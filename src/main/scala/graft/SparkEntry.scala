package graft

import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Aggs, TimeIndex}
import graft.operators._
import graft.sources.{Lake, Parquet}
import graft.ts.{TimeRange, TimeSeries}

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  *
  * Conventions shared with the DuckDB oracles (SURVEY.md §3):
  *  - event timestamps compared as epoch-µs longs (events.parquet is
  *    TIMESTAMP(NANOS); Spark reads it via nanosAsLong then `div 1000`,
  *    DuckDB surfaces µs and uses epoch_us) — never through doubles;
  *  - sums go through DECIMAL(38,6) (order-independent, exact) but are
  *    SURFACED as double (`Aggs.sumExactD` / `CAST(... AS DOUBLE)`):
  *    a raw decimal output column renders differently per engine
  *    (parquet Decimal keeps trailing zeros, DuckDB's pandas bridge is
  *    float64) and fails the driver's stringified hash compare;
  *  - avg/stdev/percentile/interpolations round to 6dp on both sides.
  */
object SparkEntry {

  // ---------------------------------------------------------------- I/O

  /** One sf table through [[Parquet.read]] (schema from the footer, no
    * inference job while the query is built). Older testdata wrote
    * events.ts as TIMESTAMP(NANOS); the session's `nanosAsLong` conf
    * ([[GraftSession.configure]]) surfaces it as an epoch-ns long so
    * normalizeUs can key off the schema.
    */
  private def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    Parquet.read(s, s"$dir/$name.parquet")
  /** [[tbl]] + scale-adaptive scan fan-out ([[operators.Par.fanout]]):
    * the sf-dir test tables are single-row-group files, so every scan
    * is ONE task and compute-dense per-row work (vec_dot folds, hashed
    * featurization, shingle/char-gram hashing) serializes on one core.
    * fanout repartitions to session parallelism ONLY when the scan
    * yields fewer partitions than cores — an identity at real corpus
    * scale. Used for the documents/embeddings query families; the lake
    * builder helpers above keep the raw read (their write layout is
    * part of the measured artifact).
    */
  private def ftbl(s: SparkSession, dir: String, name: String): DataFrame =
    Par.fanout(tbl(s, dir, name))

  /** events with ts normalized to the canonical epoch-µs long regardless
    * of the parquet physical type (TIMESTAMP(NANOS) long, TIMESTAMP, or
    * TIMESTAMP_NTZ — DuckDB's epoch_us sees the same µs value for all).
    */
  private def events(s: SparkSession, dir: String): DataFrame =
    TimeIndex.normalizeUs(tbl(s, dir, "events"), "ts")

  /** Tables built once per process and dataset, keyed by (kind,
    * dataset dir). Concurrent query runners may race, so the build is
    * serialized and idempotent (same data, same deterministic layout).
    * `build` writes into a fresh `kind`-prefixed temp dir, deleted with
    * its contents at JVM exit; the dir is returned.
    */
  private val builtDirs =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]()
  private def builtOnce(kind: String, dir: String)(build: String => Unit): String =
    builtDirs.computeIfAbsent((kind, dir), { _ =>
      val path = java.nio.file.Files.createTempDirectory(kind).toFile
      sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(path))
      build(path.toString)
      path.toString
    })

  /** Per-dataset persisted IVF index path: the bench's warmup pass pays
    * the build, timed passes measure the search.
    */
  private def ivfIndexFor(s: SparkSession, dir: String,
                          emb: DataFrame): String =
    builtOnce("graft_ivf_idx", dir)(Knn.writeIvfIndex(emb, EmbDim, _))

  /** Per-dataset z-ordered lake layout (events clustered on
    * (user_id, value) + its file manifest) — the ivfIndexFor
    * convention: the warmup pass pays the write, timed passes measure
    * the manifest-pruned read.
    */
  private def lakeZFor(s: SparkSession, dir: String): String =
    builtOnce("graft_lake_z", dir) { path =>
      Lake.writeZOrdered(
        events(s, dir).select("event_id", "user_id", "event_type", "value"),
        Seq("user_id", "value"), path, nFiles = 8)
    }

  /** Per-dataset snapshot table (documents committed as two versions:
    * even doc_ids, then odd). Versions are immutable, so reads at
    * v=1/v=2 are bit-stable across passes.
    */
  private def lakeSnapFor(s: SparkSession, dir: String): String =
    builtOnce("graft_lake_snap", dir) { path =>
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      Lake.snapshotAppend(docs.where(col("doc_id") % 2 === 0), path)
      Lake.snapshotAppend(docs.where(col("doc_id") % 2 === 1), path)
    }

  /** Per-dataset MERGE-INTO table: even doc_ids committed, then one
    * upsert whose update rows rewrite the %10==2 keys and whose
    * %10==1 keys are inserts — both value sets derived from the raw
    * table so the oracle can recompute the expected post-merge
    * content exactly.
    */
  private def lakeMergeFor(s: SparkSession, dir: String): String =
    builtOnce("graft_lake_merge", dir) { path =>
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      Lake.snapshotAppend(docs.where(col("doc_id") % 2 === 0), path)
      val updates = docs
        .where(col("doc_id") % 10 === 2 || col("doc_id") % 10 === 1)
        .select(col("doc_id"),
          concat(lit("U:"), substring(col("text"), 1, 20)).as("text"))
      Lake.snapshotMergeInto(s, path, updates, "doc_id")
    }

  /** Per-dataset streaming-CDC table: documents applied through
    * [[Lake.streamMergeInto]] as TWO file-source micro-batches.
    * Batch 1 (bootstrap): the even half at seq=1 PLUS a second seq=2
    * change for the %10==4 keys — so the within-batch latest-per-key
    * pick is exercised, not just the merge. Batch 2: %10==2 updates +
    * %10==1 inserts at seq=3. The every-2-batches compact+expire
    * maintenance hook is ON (keepLast=1), so the maintenance path
    * (compactSnapshot + expireSnapshots) sits under the oracle gate
    * too: content must survive the rewrite bit-exactly.
    */
  private def lakeStreamFor(s: SparkSession, dir: String): String =
    builtOnce("graft_lake_cdc", dir) { base =>
      val src = s"$base/src"; val ck = s"$base/ck"
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      val b0 = docs.where(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("text"), lit(1L).as("seq"))
        .unionByName(docs.where(col("doc_id") % 10 === 4)
          .select(col("doc_id"),
            concat(lit("S2:"), substring(col("text"), 1, 10)).as("text"),
            lit(2L).as("seq")))
      val b1 = docs
        .where(col("doc_id") % 10 === 2 || col("doc_id") % 10 === 1)
        .select(col("doc_id"),
          concat(lit("U:"), substring(col("text"), 1, 20)).as("text"),
          lit(3L).as("seq"))
      // one file per batch: a multi-part write can be LISTED mid-write,
      // splitting a CDC batch across triggers (the documented
      // cross-trigger caveat)
      b0.coalesce(1).write.parquet(s"$src/b0")
      val stream = s.readStream.schema(b0.schema).parquet(s"$src/*")
      val q = Lake.streamMergeInto(stream, s"$base/tbl", "doc_id", "seq", ck,
        compactEvery = 2, keepLast = 1)
      try {
        q.processAllAvailable()
        b1.coalesce(1).write.parquet(s"$src/b1")
        q.processAllAvailable()
      } finally q.stop()
    } + "/tbl"

  // time constants (epoch µs)
  private val UsMin = 60L * 1000000L
  private val UsHour = 60L * UsMin
  private val UsDay = 24L * UsHour
  private val Jan01 = 1704067200000000L // 2024-01-01T00:00:00Z
  private val Jan08 = 1704672000000000L // 2024-01-08T00:00:00Z
  private val Jan15 = 1705276800000000L // 2024-01-15T00:00:00Z
  private val Jan10 = 1704844800000000L // 2024-01-10T00:00:00Z
  private val Jan20 = 1705708800000000L // 2024-01-20T00:00:00Z

  // shared mask that induces ~10% missing values for the fill/filter ops
  private def masked(c: Column): Column = when(c < 5.0, lit(null)).otherwise(c)

  // CUSUM drift parameters (µ-units), interpolated into the oracle SQL
  // so the two sides cannot drift: target 50.0, alarm threshold 500.0
  private val CusumTargetUs = 50000000L
  private val CusumHUs = 500000000L

  // Holt smoothing factors; the ORACLE interpolates these (and their
  // 1-x complements) as Scala-printed shortest-repr doubles, so both
  // engines parse bit-identical literals
  private val HoltAlpha = 0.3
  private val HoltBeta = 0.2
  private val HwGamma = 0.3
  private val HwPeriod = 7
  // burst model: base rate ~1/40000s (the per-user mean gap scale),
  // burst = 5x, up-transition penalty 2 nats; k_i = -ln λ_i
  private val BurstLam0 = 2.5e-5
  private val BurstLam1 = 1.25e-4
  private val BurstGamma = 2.0

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  // ------------------------------------------------------------ queries

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    coreQueries ++ dataQueries

  def oracleSql: Map[String, String] = coreOracles ++ dataOracles

  private def coreQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- §2.7 analytics core ---------------------------------------
    "q1_agg" -> { (s, dir) =>
      tbl(s, dir, "lineitem")
        .where(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          Aggs.sumExactD(col("l_quantity")).as("sum_qty"),
          Aggs.sumExactD(col("l_extendedprice")).as("sum_base_price"),
          Aggs.sumExactD(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("sum_disc_price"),
          Aggs.sumExactD(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            * (lit(1.0) + col("l_tax"))).as("sum_charge"),
          Aggs.avg6(col("l_quantity")).as("avg_qty"),
          Aggs.avg6(col("l_extendedprice")).as("avg_price"),
          Aggs.avg6(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
    },

    "q3_join" -> { (s, dir) =>
      val o = tbl(s, dir, "orders")
      val c = tbl(s, dir, "customer")
      val n = tbl(s, dir, "nation")
      // pre-aggregate lineitem to ORDER grain first: one partial-agg'd
      // shuffle on l_orderkey replaces both the line-grain join payload
      // and countDistinct's two-phase dedup (each order now appears
      // once, so n_orders is a plain count). Dims broadcast; the
      // fact-fact join is left to AQE (broadcast at small SFs,
      // co-partitioned SMJ at scale — both sides keyed on orderkey).
      val li = tbl(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(sum(Aggs.micros(
          col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("prev"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(Aggs.microsToD(sum(col("prev"))).as("revenue"),
          count(lit(1)).as("n_orders"))
    },

    // TPC-H Q4 shape: EXISTS -> left-semi join. The semi join carries
    // no lineitem payload columns and AQE can shuffle- or broadcast-
    // join it; the agg is a tiny group count on top.
    "q4_semijoin" -> { (s, dir) =>
      val o = tbl(s, dir, "orders")
      val li = tbl(s, dir, "lineitem")
        .where(col("l_returnflag") === "R" && col("l_discount") > 0.05)
        .select("l_orderkey")
      o.join(li, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
    },

    // TPC-H Q5 shape: fact ⨝ fact with every dimension broadcast and
    // the supplier/customer nation-match predicate applied post-join.
    "q5_multijoin" -> { (s, dir) =>
      val li = tbl(s, dir, "lineitem")
      val o = tbl(s, dir, "orders")
      val c = tbl(s, dir, "customer")
      val su = tbl(s, dir, "supplier")
      val n = tbl(s, dir, "nation")
      val r = tbl(s, dir, "region")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey")
          && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
          Aggs.sumExactD(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("revenue"),
          count(lit(1)).as("n_items"))
    },

    "q_topn_window" -> { (s, dir) =>
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      tbl(s, dir, "orders")
        .withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= 3)
        .select(col("o_orderpriority"), col("rnk"), col("o_orderkey"),
          col("o_totalprice"))
    },

    "q_events_sessionize" -> { (s, dir) =>
      Sessionize(events(s, dir).select("user_id", "ts", "value"),
        "ts", Seq("user_id"), 30L * UsMin,
        Seq(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
          count(lit(1)).as("n_events"), Aggs.sumExactD(col("value")).as("sum_value")))
    },

    // grouping-sets agg: cube over (returnflag, linestatus) subtotals —
    // Expand + ONE shuffle with map-side partials, the OLAP subtotal
    // shape (4x map rows, reduce rows = #groups across all subtotal
    // levels — still tiny at any corpus scale)
    "q_cube" -> { (s, dir) =>
      // pre-aggregate to the finest grouping first, then cube over the
      // tiny partial frame: the 4x Expand never touches the fact table,
      // and every subtotal recombines exact micro-sums (avg derives
      // from exact sum/count, same 6dp as the oracle's avg)
      val pre = tbl(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("pn"),
          sum(Aggs.micros(col("l_quantity"))).as("pq"),
          sum(Aggs.micros(col("l_extendedprice"))).as("pp"))
      pre.cube(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().cast("int").as("gid"),
          sum(col("pn")).as("n"),
          Aggs.microsToD(sum(col("pq"))).as("sum_qty"),
          round(Aggs.microsToD(sum(col("pp"))) / sum(col("pn")), 6)
            .as("avg_price"))
    },

    // per-group argmin: cheapest lineitem per part. row_number over the
    // partkey window (deterministic composite tie-break) = one shuffle
    // + per-partition sort; partkeys are high-cardinality/even so no
    // skew, and the part dim joins broadcast
    "q_argmin" -> { (s, dir) =>
      val w = Window.partitionBy(col("l_partkey"))
        .orderBy(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
      tbl(s, dir, "lineitem")
        .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .join(broadcast(tbl(s, dir, "part")),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_partkey"), col("p_name"), col("l_orderkey"),
          col("l_linenumber"), col("l_extendedprice").as("min_price"))
    },

    // monthly cohort retention: cohort = month of first activity. ONE
    // user_id-keyed partial-agg shuffle computes first-ts AND the
    // distinct active-month set together (collect_set is bounded by
    // #calendar months, not #events, and the partial agg dedups
    // map-side) — no self-join; the final (cohort, month) agg is
    // #cohorts × #months rows
    "q_retention" -> { (s, dir) =>
      events(s, dir).groupBy("user_id")
        .agg(min(col("ts")).as("first_ts"),
          collect_set(TimeIndex.monthlyIndex(col("ts"))).as("months"))
        .select(TimeIndex.monthlyIndex(col("first_ts")).as("cohort"),
          explode(col("months")).as("act_month"))
        .groupBy("cohort", "act_month")
        .agg(count(lit(1)).as("n_users"))
    },

    // week-over-week churn (retention's loss-side twin): a user
    // churns FROM week w when w+1 shows no activity; the corpus's
    // final week is right-censored (nobody can churn from a week
    // whose successor is unobserved). One distinct (user, week) agg
    // + a user-keyed lead window + the per-week rollup
    "q_churn" -> { (s, dir) =>
      val uw = events(s, dir)
        .select(col("user_id"),
          org.apache.spark.sql.graft.Bridge.fldiv(
            col("ts") - lit(Jan01), 7 * UsDay).as("w"))
        .distinct()
      val wU = Window.partitionBy(col("user_id")).orderBy(col("w"))
      Par.withScalars(uw.withColumn("__next", lead(col("w"), 1).over(wU)),
          uw.agg(max(col("w")).as("wx")))
        .where(col("w") < col("wx"))
        .withColumn("__churned",
          col("__next").isNull || col("__next") > col("w") + 1)
        .groupBy(col("w").as("week_num"))
        .agg(count(lit(1)).as("n_active"),
          count(when(col("__churned"), 1)).as("n_churned"))
        .withColumn("churn_rate",
          round(col("n_churned").cast("double") / col("n_active"), 6))
    },

    // ordered conversion funnel (view -> click within 1d -> purchase
    // within another 1d) per user: three stacked full-partition window
    // mins over ONE user-keyed shuffle (each stage's earliest
    // qualifying timestamp conditions on the previous stage's), then a
    // per-user collapse and a single global row — no self-joins, no
    // event_type × event_type blowup
    "q_funnel" -> { (s, dir) =>
      val wU = Window.partitionBy(col("user_id"))
      events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"))
        .withColumn("t1",
          min(when(col("event_type") === "view", col("ts"))).over(wU))
        .withColumn("t2",
          min(when(col("event_type") === "click" && col("ts") > col("t1")
            && col("ts") <= col("t1") + UsDay, col("ts"))).over(wU))
        .withColumn("t3",
          min(when(col("event_type") === "purchase" && col("ts") > col("t2")
            && col("ts") <= col("t2") + UsDay, col("ts"))).over(wU))
        .groupBy("user_id")
        .agg(min("t1").as("t1"), min("t2").as("t2"), min("t3").as("t3"))
        .agg(count(col("t1")).as("n_view"), count(col("t2")).as("n_click"),
          count(col("t3")).as("n_buy"),
          round(count(col("t3")).cast("double") / count(col("t1")), 6)
            .as("conv"))
    },

    // per-user event-type transition matrix — the session Markov
    // chain behind "what do users do next": each event pairs with its
    // successor in (ts, event_id) order via ONE user-keyed window
    // shuffle, then a (from,to)-keyed partial agg whose reduce output
    // is |types|² rows; the normalizing row-sum is a window over that
    // tiny frame, never a corpus re-scan
    "q_transitions" -> { (s, dir) =>
      val wU = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("to_type", lead(col("event_type"), 1).over(wU))
        .where(col("to_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("n_from",
          sum(col("n")).over(Window.partitionBy(col("from_type"))))
        .select(col("from_type"), col("to_type"), col("n"), col("n_from"),
          round(col("n").cast("double") / col("n_from").cast("double"), 6)
            .as("frac"))
    },

    // cumulative cohort revenue (LTV triangle — q_cohort_matrix's
    // monetary companion): per (cohort, week-offset) the exact
    // DECIMAL(38,6) revenue sum, cumulated by a cohort-partitioned
    // window IN DECIMAL (cast to double only at the edge), normalized
    // by the broadcast cohort size
    "q_ltv" -> { (s, dir) =>
      val ev = events(s, dir)
      val wk = org.apache.spark.sql.graft.Bridge.fldiv(
        col("ts") - lit(Jan01), 7 * UsDay)
      val cohort = ev.groupBy(col("user_id")).agg(min(wk).as("c0"))
      val sizes = cohort.groupBy(col("c0"))
        .agg(count(lit(1)).as("n_cohort"))
      val wC = Window.partitionBy(col("cohort_week"))
        .orderBy(col("week_offset"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.where(col("event_type") === "purchase")
        .select(col("user_id"), wk.as("w"), col("value"))
        .join(cohort, Seq("user_id"))
        .groupBy(col("c0").as("cohort_week"),
          (col("w") - col("c0")).as("week_offset"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(col("value").cast("decimal(38,6)")).as("rev_d"))
        .withColumn("cum_d", sum(col("rev_d")).over(wC))
        .join(broadcast(sizes), col("cohort_week") === col("c0"))
        .select(col("cohort_week"), col("week_offset"), col("n_purchases"),
          col("rev_d").cast("double").as("revenue"),
          col("cum_d").cast("double").as("cum_revenue"),
          col("n_cohort"),
          round(col("cum_d").cast("double")
            / col("n_cohort").cast("double"), 6).as("ltv_per_user"))
    },

    // cohort-relative RFM segmentation (recency / frequency /
    // monetary quintiles WITHIN each signup cohort — the partitioned
    // formulation: every ntile window keys on cohort_week, so no
    // global single-partition rank ever forms; monetary folds as the
    // exact DECIMAL(38,6) sum, recency anchors on the corpus max ts
    // read as a scalar from a 1-row agg)
    "q_rfm" -> { (s, dir) =>
      val ev = events(s, dir)
      val wk = org.apache.spark.sql.graft.Bridge.fldiv(
        col("ts") - lit(Jan01), 7 * UsDay)
      val cohort = ev.groupBy(col("user_id")).agg(min(wk).as("c0"))
      val pur = ev.where(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(max(col("ts")).as("last_ts"), count(lit(1)).as("n_purchases"),
          sum(col("value").cast("decimal(38,6)")).as("mon"))
      val mx = ev.agg(max(col("ts")).as("max_ts"))
      def sc(order: Seq[Column]) = ntile(5).over(
        Window.partitionBy(col("cohort_week")).orderBy(order: _*))
      Par.withScalars(pur.join(cohort, Seq("user_id")), mx)
        .select(col("user_id"), col("c0").as("cohort_week"),
          org.apache.spark.sql.graft.Bridge.fldiv(
            col("max_ts") - col("last_ts"), UsDay).as("recency_days"),
          col("n_purchases"), col("mon").cast("double").as("monetary"))
        .withColumn("r_score",
          sc(Seq(col("recency_days").desc, col("user_id"))))
        .withColumn("f_score", sc(Seq(col("n_purchases"), col("user_id"))))
        .withColumn("m_score", sc(Seq(col("monetary"), col("user_id"))))
        .withColumn("segment",
          when(col("r_score") >= 4 && col("f_score") >= 4, "champion")
            .when(col("r_score") >= 4, "recent")
            .when(col("f_score") >= 4, "loyal")
            .when(col("r_score") <= 2 && col("f_score") <= 2, "at_risk")
            .otherwise("regular"))
    },

    // DAU / trailing-7-day-AU stickiness per day — the engagement
    // scorecard: one (user, day) DISTINCT, the tiny day frame
    // broadcast against it for the trailing window (output is
    // |active-days|·7 rows — linear, never user×user), one distinct
    // agg per day; at 100 TB the day frame stays calendar-sized
    "q_stickiness" -> { (s, dir) =>
      val ud = events(s, dir)
        .select(col("user_id"),
          org.apache.spark.sql.graft.Bridge.fldiv(
            col("ts") - lit(Jan01), UsDay).as("d"))
        .distinct()
      val days = ud.select(col("d").as("d0")).distinct()
      val wau = ud.join(broadcast(days),
          col("d") <= col("d0") && col("d") >= col("d0") - 6)
        .groupBy(col("d0"))
        .agg(countDistinct(col("user_id")).as("wau"))
      ud.groupBy(col("d")).agg(count(lit(1)).as("dau"))
        .join(wau, col("d") === col("d0"))
        .select(col("d").as("day_num"), col("dau"), col("wau"),
          round(col("dau").cast("double") / col("wau").cast("double"), 6)
            .as("stickiness"))
    },

    // two-variant A/B read-out over purchase values (variant = user
    // parity — the deterministic split both engines derive): Welch
    // z-score from per-variant exact integer sums (µ-snapped s1/s2,
    // the DECIMAL(38,0) variance key), one 2-row agg + a 1-row fold;
    // the decision is |z| > 1.96. DEGENERATE INPUT CONTRACT: a
    // variant with zero purchase rows picks NULL n/m/v, a 1-purchase
    // variant has NULL variance, and two constant-valued variants
    // have a ZERO pooled standard error — each surfaces NULL z / NULL
    // significant, the explicit "no verdict" read-out (identical on
    // the DuckDB side; EdgeCaseSpec pins it). The Welch arithmetic
    // lives in graft.functions.Welch, SHARED with StreamAbTest so the
    // spec-pinned stream == batch equality cannot drift.
    "q_ab_test" -> { (s, dir) =>
      val g = events(s, dir)
        .where(col("event_type") === "purchase")
        .select((col("user_id") % 2).as("variant"), col("value"))
        .groupBy(col("variant"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * lit(1e6)).cast("long")).as("s1"),
          sum(round(col("value") * col("value") * lit(1e6)).cast("long"))
            .as("s2"))
        .select(col("variant"), col("n"),
          graft.functions.Welch.mean(col("n"), col("s1")).as("m"),
          graft.functions.Welch.variance(col("n"), col("s1"), col("s2"))
            .as("v"))
      def pick(c: String, v: Int) =
        max(when(col("variant") === v, col(c)))
      val z = graft.functions.Welch.z(col("m0"), col("v0"), col("n0"),
        col("m1"), col("v1"), col("n1"))
      g.agg(
          pick("n", 0).as("n0"), pick("n", 1).as("n1"),
          pick("m", 0).as("m0"), pick("m", 1).as("m1"),
          pick("v", 0).as("v0"), pick("v", 1).as("v1"))
        .select(col("n0"), col("n1"),
          round(col("m0"), 6).as("mean0"), round(col("m1"), 6).as("mean1"),
          round(z, 4).as("z"), (abs(z) > 1.96).as("significant"))
    },

    // top user-path trigrams — the path-analysis sibling of
    // q_transitions: two leads over the SAME user-keyed window pair
    // each event with its next two, the |types|³-row partial agg
    // counts paths, and the top-10 rides TakeOrderedAndProject
    // (deterministic tie-break on the path string) — no global sort
    "q_paths" -> { (s, dir) =>
      val wU = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("e2", lead(col("event_type"), 1).over(wU))
        .withColumn("e3", lead(col("event_type"), 2).over(wU))
        .where(col("e3").isNotNull)
        .groupBy(col("event_type").as("e1"), col("e2"), col("e3"))
        .agg(count(lit(1)).as("n"))
        .select(concat_ws(">", col("e1"), col("e2"), col("e3")).as("path"),
          col("n"))
        .orderBy(col("n").desc, col("path"))
        .limit(10)
    },

    // cohort × week retention matrix — q_retention generalized from
    // one pair to the full triangle: cohort = first-active week, one
    // (user, week) distinct + a user-keyed min + a (cohort, offset)
    // agg; cohort sizes broadcast back over the tiny matrix
    "q_cohort_matrix" -> { (s, dir) =>
      val uw = events(s, dir)
        .select(col("user_id"),
          org.apache.spark.sql.graft.Bridge.fldiv(
            col("ts") - lit(Jan01), 7 * UsDay).as("w"))
        .distinct()
      val cohort = uw.groupBy("user_id").agg(min(col("w")).as("c0"))
      val sizes = cohort.groupBy(col("c0"))
        .agg(count(lit(1)).as("n_cohort"))
      uw.join(cohort, Seq("user_id"))
        .groupBy(col("c0"), (col("w") - col("c0")).as("week_offset"))
        .agg(count(lit(1)).as("n_active"))
        .join(broadcast(sizes), Seq("c0"))
        .select(col("c0").as("cohort_week"), col("week_offset"),
          col("n_active"), col("n_cohort"),
          round(col("n_active").cast("double")
            / col("n_cohort").cast("double"), 6).as("retention"))
    },

    // salted two-stage aggregation — the skew-mitigation pattern for
    // heavy-hitter group keys: a handful of event_types over billions
    // of rows would reduce on #distinct-keys partitions under a plain
    // groupBy; salting (event_id mod 16) spreads every key across 16
    // reducers for the expensive pass, then the final combine
    // re-aggregates 16 sub-rows per key. sum/min/max/count re-combine
    // losslessly (decimal sums are order-independent), avg derives
    // from sum/n — the result is bit-identical to the plain GROUP BY
    // the oracle runs
    "q_skew_salted" -> { (s, dir) =>
      val salted = events(s, dir)
        .withColumn("__salt", pmod(col("event_id"), lit(16L)))
        .groupBy(col("event_type"), col("__salt"))
        .agg(count(lit(1)).as("pn"),
          sum(Aggs.micros(col("value"))).as("psum"),
          min(col("value")).as("pmin"),
          max(col("value")).as("pmax"))
      salted.groupBy("event_type")
        .agg(sum(col("pn")).as("n"),
          Aggs.microsToD(sum(col("psum"))).as("sum_value"),
          min(col("pmin")).as("min_value"),
          max(col("pmax")).as("max_value"))
        .withColumn("avg_value", round(col("sum_value") / col("n"), 6))
    },

    // scale-path approximations (NO DuckDB oracle — sketch internals
    // are engine-specific, driver records the rows-only check): GK
    // percentile sketch + HLL++ distinct count, both fixed-size
    // mergeable state where the exact forms need a full sort /
    // distinct shuffle — at 100 TB these are the aggregations you
    // actually run interactively
    // GK percentile + HLL++ sketches wrapped in their own error
    // contracts so the oracle asserts VALUES, not just row counts:
    // each sketch output is checked in-plan against exact bounds (GK
    // rank error <= n/accuracy puts the approx between the "lower"
    // element at p-10/acc and the "higher" element at p+10/acc; HLL
    // rsd 0.02 bounds relative error by 5*rsd w.h.p.), and the query
    // emits the exactly-reproducible stats plus the verdicts. A
    // sketch regression flips a verdict to false and hash-fails
    // against the oracle's literal TRUEs.
    // the audit buffers each group's values ONCE (one sorted-array
    // aggregate feeds the 2 exact percentiles + 4 tolerance-bound
    // probes) and takes the exact distinct count from collect_set
    // instead of countDistinct (whose rewrite adds an Expand + a 2nd
    // exchange) — 1 shuffle, 2 buffers, vs the previous 6 percentile
    // buffers + an expand
    "ts_agg_approx" -> { (s, dir) =>
      val eps = 0.001 // 10 / accuracy(10000)
      events(s, dir).groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          size(collect_set(col("user_id"))).cast("long").as("n_users_exact"),
          sort_array(collect_list(col("value"))).as("__vs"),
          Aggs.percentileApprox(col("value"), 0.5).as("__p50a"),
          Aggs.percentileApprox(col("value"), 0.99).as("__p99a"),
          Aggs.countDistinctApprox(col("user_id")).as("__nua"))
        .select(col("event_type"), col("n"), col("n_users_exact"),
          Aggs.percentileLinOf6(col("__vs"), 0.5).as("p50_exact"),
          Aggs.percentileLinOf6(col("__vs"), 0.99).as("p99_exact"),
          (col("__p50a") >=
            Aggs.percentileMethodOf(col("__vs"), 0.5 - eps, "lower") &&
            col("__p50a") <=
              Aggs.percentileMethodOf(col("__vs"), 0.5 + eps, "higher"))
            .as("p50_in_tol"),
          (col("__p99a") >=
            Aggs.percentileMethodOf(col("__vs"), 0.99 - eps, "lower") &&
            col("__p99a") <=
              Aggs.percentileMethodOf(col("__vs"), 0.99 + eps, "higher"))
            .as("p99_in_tol"),
          (abs(col("__nua").cast("double") -
            col("n_users_exact").cast("double")) <=
            lit(0.1) * col("n_users_exact").cast("double")).as("nd_in_tol"))
    },

    // --- §2.1 aggregation ------------------------------------------
    "ts_agg_basic" -> { (s, dir) =>
      events(s, dir).groupBy("event_type").agg(
        Aggs.sumExactD(col("value")).as("sum_value"),
        Aggs.avg6(col("value")).as("avg_value"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"),
        count(lit(1)).as("n"))
    },

    "ts_agg_first_last" -> { (s, dir) =>
      events(s, dir).groupBy("user_id").agg(
        min(col("ts")).as("first_ts"),
        max(col("ts")).as("last_ts"),
        Aggs.firstByTime(col("value"), col("ts")).as("first_value"),
        Aggs.lastByTime(col("value"), col("ts")).as("last_value"))
    },

    "ts_agg_stats" -> { (s, dir) =>
      events(s, dir).groupBy("event_type").agg(
        Aggs.median6(col("value")).as("median_value"),
        Aggs.stddevPop6(col("value")).as("stdev_value"),
        Aggs.percentileLin6(col("value"), 0.9).as("p90_value"),
        Aggs.difference(col("value")).as("diff_value"))
    },

    "ts_quantile" -> { (s, dir) =>
      events(s, dir).groupBy("event_type").agg(
        Aggs.percentileLin6(col("value"), 0.25).as("p25"),
        Aggs.percentileLin6(col("value"), 0.5).as("p50"),
        Aggs.percentileLin6(col("value"), 0.75).as("p75"))
    },

    "ts_percentile_methods" -> { (s, dir) =>
      events(s, dir).groupBy("event_type").agg(
        Aggs.percentileMethod(col("value"), 0.9, "lower").as("p90_lower"),
        Aggs.percentileMethod(col("value"), 0.9, "higher").as("p90_higher"),
        Aggs.percentileMethod(col("value"), 0.9, "nearest").as("p90_nearest"),
        Aggs.percentileMidpoint6(col("value"), 0.9).as("p90_midpoint"))
    },

    // per-type linear trend: closed-form OLS over (hours-since-epoch,
    // µ-unit value) — every sum is an exact INTEGER (map-side
    // combinable partial aggs, one shuffle to #groups rows), and the
    // slope/intercept formula then runs the same IEEE double ops on
    // the same exact inputs in both engines, so the regression is
    // bit-stable with no per-partition float accumulation anywhere.
    // (At petabyte group sizes the long sums would cast to DECIMAL;
    // the shape is unchanged.)
    "ts_trend_slope" -> { (s, dir) =>
      val x = org.apache.spark.sql.graft.Bridge
        .ldiv(col("ts") - lit(Jan01), 3600000000L)
      val y6 = floor(col("value") * lit(1e6)).cast("long")
      val agg = events(s, dir)
        .select(col("event_type"), x.as("x"), y6.as("y6"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y6")).as("sy6"), sum(col("x") * col("y6")).as("sxy6"),
          sum(col("x") * col("x")).as("sxx"))
      val nD = col("n").cast("double")
      val slope6 = (nD * col("sxy6").cast("double")
        - col("sx").cast("double") * col("sy6").cast("double")) /
        (nD * col("sxx").cast("double")
          - col("sx").cast("double") * col("sx").cast("double"))
      agg.select(col("event_type"), col("n"),
        round(slope6 / lit(1e6), 6).as("slope_per_hour"),
        round((col("sy6").cast("double") - slope6 * col("sx").cast("double"))
          / nD / lit(1e6), 6).as("intercept"))
    },

    // fixed-width value histogram per event_type: pure floor/clamp
    // arithmetic scan-side, ONE partial-agg'd shuffle whose reduce
    // side is #types × #buckets rows at any corpus scale
    "ts_hist" -> { (s, dir) =>
      val b = least(greatest(floor(col("value") / 25), lit(0)), lit(19))
        .cast("int")
      events(s, dir)
        .groupBy(col("event_type"), b.as("bucket"))
        .agg(count(lit(1)).as("n"))
        .select(col("event_type"), col("bucket"),
          (col("bucket") * 25).cast("double").as("lo"),
          ((col("bucket") + 1) * 25).cast("double").as("hi"),
          col("n"))
    },

    // all five pypond Filters modes (functions.py:31-75): ignore /
    // zero / propagate / keep (count(*) vs valid count) / none_if_empty
    // (exercised on mv2, a column with NO valid values, where count
    // would otherwise be 0, not null)
    "ts_agg_filters" -> { (s, dir) =>
      events(s, dir).withColumn("mv", masked(col("value")))
        .withColumn("mv2", when(col("value") < lit(-1e18), col("value")))
        .groupBy("event_type").agg(
          Aggs.avg6(col("mv")).as("avg_ignore"),
          round(avg(Aggs.zeroMissing(col("mv"))), 6).as("avg_zero"),
          round(Aggs.propagateMissing(avg(col("mv")), col("mv")), 6)
            .as("avg_propagate"),
          count(Aggs.keepMissing(lit(1))).as("n_keep"),
          Aggs.countValid(col("mv")).as("n_valid"),
          Aggs.noneIfEmpty(Aggs.countValid(col("mv2")), col("mv2"))
            .cast("long").as("cnt_none_if_empty"),
          // Functions.keep: constant-per-group survives, varying nulls
          Aggs.keep(length(col("event_type")).cast("long"))
            .as("keep_const"),
          Aggs.keep(col("mv")).as("keep_varied"))
    },

    "ts_size_valid" -> { (s, dir) =>
      events(s, dir).withColumn("mv", masked(col("value")))
        .groupBy("user_id").agg(
          count(lit(1)).as("n"),
          Aggs.countValid(col("mv")).as("n_valid"))
    },

    // --- §2.2 rollups ----------------------------------------------
    "ts_rollup_5m" -> { (s, dir) =>
      TimeSeries(events(s, dir), "ts", Seq("user_id"))
        .fixedWindowRollup("5m", Seq(
          Aggs.avg6(col("value")).as("avg_value"),
          Aggs.sumExactD(col("value")).as("sum_value"),
          max(col("value")).as("max_value"),
          count(lit(1)).as("n")))
    },

    // THE latency-dashboard rollup: per (series, window) exact
    // p50/p95/p99 — Spark's percentile() is exact linear
    // interpolation, definitionally DuckDB's quantile_cont; one
    // partial-agg'd (key, window) shuffle like every fixed rollup
    // (the sketch path for 100 TB groups is ts_agg_approx's GK leg)
    "ts_rollup_p95" -> { (s, dir) =>
      // r16 (guide §2): exact percentiles buffer every value, so the
      // partial agg reduces nothing and AQE byte-coalesces the (key,
      // idx) exchange to 1–2 partitions where the per-group sort +
      // interpolation runs. The explicit spread on the SAME clustering
      // expression replaces that exchange 1:1 (identical bytes — the
      // partial buffers carried every value anyway), pinned at session
      // parallelism.
      val sp = Par.spread(events(s, dir), col("user_id"),
        TimeIndex.indexOf(col("ts"), "1h"))
      TimeSeries(sp, "ts", Seq("user_id"))
        .fixedWindowRollup("1h", Seq(
          round(percentile(col("value"), lit(0.5)), 6).as("p50"),
          round(percentile(col("value"), lit(0.95)), 6).as("p95"),
          round(percentile(col("value"), lit(0.99)), 6).as("p99"),
          count(lit(1)).as("n")))
    },

    // SLO error-budget burn per (user, day): the SRE triage query —
    // err_frac vs a 10% objective, burn = frac/slo (burn > 1 eats
    // budget), plus the day's breach verdict; exact integer counts,
    // one fixed IEEE division, one (key, day) partial-agg'd shuffle
    "q_slo_burn" -> { (s, dir) =>
      val day = org.apache.spark.sql.graft.Bridge.fldiv(
        col("ts") - lit(Jan01), UsDay)
      events(s, dir)
        .groupBy(col("user_id"), day.as("day"))
        .agg(count(lit(1)).as("n_events"),
          count(when(col("event_type") === "error", 1)).as("n_errors"))
        .withColumn("err_frac",
          round(col("n_errors").cast("double") / col("n_events"), 6))
        .withColumn("burn_rate",
          round(col("n_errors").cast("double") / col("n_events") / lit(0.1),
            6))
        .withColumn("breach",
          col("n_errors") * lit(10L) > col("n_events"))
    },

    "ts_rollup_1h" -> { (s, dir) =>
      TimeSeries(events(s, dir), "ts", Seq("user_id"))
        .fixedWindowRollup("1h", Seq(
          Aggs.sumExactD(col("value")).as("sum_value"),
          count(lit(1)).as("n")))
    },

    "ts_rollup_daily" -> { (s, dir) =>
      TimeSeries(events(s, dir), "ts", Seq("event_type"))
        .dailyRollup(Seq(
          Aggs.sumExactD(col("value")).as("sum_value"),
          Aggs.avg6(col("value")).as("avg_value"),
          count(lit(1)).as("n")))
    },

    // pypond's utc=False local-time rollup (series.py:1278): day
    // boundaries in a named zone, DST-aware — "my days are in
    // America/New_York", the most common real-world rollup ask
    "ts_rollup_daily_tz" -> { (s, dir) =>
      TimeSeries(events(s, dir), "ts", Seq("event_type"))
        .dailyRollup(Seq(
          Aggs.sumExactD(col("value")).as("sum_value"),
          count(lit(1)).as("n")), tz = Some("America/New_York"))
    },

    "ts_rollup_monthly" -> { (s, dir) =>
      TimeSeries(events(s, dir), "ts", Seq("user_id"))
        .monthlyRollup(Seq(
          Aggs.sumExactD(col("value")).as("sum_value"),
          count(lit(1)).as("n")))
    },

    "ts_rollup_monthly_tz" -> { (s, dir) =>
      TimeSeries(events(s, dir), "ts", Seq("user_id"))
        .monthlyRollup(Seq(
          Aggs.sumExactD(col("value")).as("sum_value"),
          count(lit(1)).as("n")), tz = Some("Asia/Tokyo"))
    },

    "ts_rollup_yearly" -> { (s, dir) =>
      TimeSeries(events(s, dir), "ts", Nil)
        .yearlyRollup(Seq(
          Aggs.sumExactD(col("value")).as("sum_value"),
          count(lit(1)).as("n")))
    },

    "ts_rollup_sliding" -> { (s, dir) =>
      Rollup.slidingWindow(events(s, dir), "ts", Seq("event_type"),
        size = "2h", slide = "1h", aggs = Seq(
          count(lit(1)).as("n"),
          Aggs.sumExactD(col("value")).as("sum_value")))
    },

    "ts_collect_by_window" -> { (s, dir) =>
      TimeSeries(events(s, dir), "ts", Seq("user_id"))
        .collectByFixedWindow("1d", Seq(
          count(lit(1)).as("n"),
          Aggs.sumExactD(col("value")).as("sum_value")))
    },

    "ts_agg_by_key" -> { (s, dir) =>
      TimeSeries(events(s, dir), "ts", Seq("user_id"))
        .aggregate(Seq(
          count(lit(1)).as("n"),
          Aggs.sumExactD(col("value")).as("sum_value"),
          Aggs.avg6(col("value")).as("avg_value")))
    },

    // --- §2.3 stateful processors ----------------------------------
    // threshold-crossing detection (alerting): emit events where the
    // series crosses 100.0 in either direction
    "ts_crossings" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      events(s, dir)
        .withColumn("prev_v", lag(col("value"), 1).over(w))
        .where(col("prev_v").isNotNull &&
          ((col("prev_v") < 100.0 && col("value") >= 100.0) ||
            (col("prev_v") >= 100.0 && col("value") < 100.0)))
        .select(col("user_id"), col("ts"), col("prev_v"), col("value"),
          when(col("value") >= 100.0, lit("up")).otherwise(lit("down"))
            .as("direction"))
    },

    // CUSUM drift alarms: the change-point member of the alerting
    // family (recursive max rewritten as prefix-sum + running-min
    // window algebra; µ-unit integers, so the prefixes are exact)
    "ts_cusum" -> { (s, dir) =>
      Trend.cusum(events(s, dir), "ts", "value", Seq("user_id"),
        target = CusumTargetUs / 1e6, h = CusumHUs / 1e6)
    },

    // per-series z-score outliers (classic anomaly screen)
    "ts_outliers" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
      events(s, dir)
        .withColumn("mu", avg(col("value")).over(w))
        .withColumn("sigma", stddev_pop(col("value")).over(w))
        .withColumn("z", round((col("value") - col("mu")) / col("sigma"), 6))
        .where(col("z") > 2.5)
        .select("user_id", "ts", "value", "z")
    },

    // rolling statistics over the series (row-frame moving average +
    // exact decimal running total) — one shuffle on the series key
    "ts_rolling" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      val last10 = w.rowsBetween(-9, 0)
      val upTo = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, dir).select(
        col("user_id"), col("ts"),
        round(avg(col("value")).over(last10), 6).as("ma10"),
        Aggs.microsToD(sum(Aggs.micros(col("value"))).over(upTo))
          .as("running_total"))
    },

    // Bollinger bands: trailing-20 mean ± 2σ envelope + breach flag —
    // the volatility-scaled sibling of ts_crossings' fixed threshold
    // (value in the ORDER BY pins frame membership under equal-ts ties)
    "ts_bands" -> { (s, dir) =>
      val f = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("value")).rowsBetween(-19, 0)
      events(s, dir).select(col("user_id"), col("ts"), col("value"))
        .withColumn("mid", round(avg(col("value")).over(f), 6))
        .withColumn("sigma", round(stddev_pop(col("value")).over(f), 6))
        .withColumn("band_up", round(col("mid") + lit(2.0) * col("sigma"), 6))
        .withColumn("band_dn", round(col("mid") - lit(2.0) * col("sigma"), 6))
        .withColumn("breach",
          when(col("value") > col("band_up"), lit("up"))
            .when(col("value") < col("band_dn"), lit("down"))
            .otherwise(lit("in")))
    },

    // rolling exact median over the trailing 10 rows — the robust twin
    // of ts_rolling's moving average (same one-shuffle window family;
    // value in the ORDER BY pins frame membership under equal-ts ties)
    "ts_rolling_median" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("value")).rowsBetween(-9, 0)
      events(s, dir).select(col("user_id"), col("ts"), col("value"),
        round(percentile(col("value"), lit(0.5)).over(w), 6).as("med10"))
    },

    // time-RANGE-frame rolling stats: trailing 10 minutes per series —
    // sliding by TIME, not rows (frame peers at equal ts, so no
    // tie-break needed); same one-shuffle window family
    "ts_rolling_time" -> { (s, dir) =>
      Trend.rollingTime(events(s, dir), "ts", "value", Seq("user_id"),
        10 * UsMin)
    },

    // per-series lag-1 autocorrelation; the groupBy reuses the lag
    // window's hash partitioning, so the whole query is ONE exchange
    "ts_autocorr" -> { (s, dir) =>
      Trend.autocorr(events(s, dir), "ts", "value", Seq("user_id"), 1)
    },

    // lag cross-correlation: does a user's 'view' value series follow
    // their 'click' series, and at what daily delay — both series
    // rolled to the 1d grid first so lags are well-defined
    "ts_cross_corr" -> { (s, dir) =>
      val b = (org.apache.spark.sql.graft.Bridge.fldiv(col("ts"), UsDay)
        * UsDay).as("bucket")
      val r = events(s, dir)
        .where(col("event_type").isin("click", "view"))
        .groupBy(col("user_id"), b, col("event_type"))
        .agg(round(avg(col("value")), 6).as("v"))
      Trend.crossCorr(
        r.where(col("event_type") === "click").drop("event_type"),
        r.where(col("event_type") === "view").drop("event_type"),
        "bucket", "v", Seq("user_id"), UsDay)
    },

    // distributed interval join: clicks inside the 30-minute window
    // opened by each error event (same user) — bucket-banded equality
    // join on (user_id, bucket), never a per-key cross product
    "q_interval_join" -> { (s, dir) =>
      val ev = events(s, dir)
      val iv = ev.where(col("event_type") === "error")
        .select(col("user_id"), col("event_id"), col("ts").as("begin"),
          (col("ts") + lit(30 * UsMin)).as("end"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"))
      val matched = RangeJoin.pairs(iv, clicks, Seq("user_id"),
          "begin", "end", "click_ts", bucketUs = 30 * UsMin)
        .groupBy("user_id", "event_id").agg(count(lit(1)).as("n"))
      iv.join(matched, Seq("user_id", "event_id"), "left")
        .select(col("user_id"), col("event_id"), col("begin").as("ts"),
          coalesce(col("n"), lit(0L)).as("n_clicks"))
    },

    // the optimizer-rule path of the interval join: the query is the
    // NAIVE keyless containment join a user would write; the
    // BandedRangeJoinRule (injected via GraftExtensions) rewrites it
    // to the banded equi-join, replacing the BroadcastNestedLoopJoin
    // the stock planner would emit. The rule's bucket conf is set on a
    // session of its own, so the caller's session decides nothing
    // about which later joins get rewritten.
    "q_interval_join_auto" -> { (s0, dir) =>
      val s = GraftSession.withConfs(s0,
        org.apache.spark.sql.graft.BandedRangeJoinRule.BucketConfKey ->
          (30 * UsMin).toString)
      val ev = events(s, dir)
      val iv = ev.where(col("event_type") === "error" && col("user_id") % 50 === 0)
        .select(col("event_id"), col("ts").as("begin"),
          (col("ts") + lit(30 * UsMin)).as("end"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("ts").as("click_ts"))
      iv.join(clicks,
          col("click_ts") >= col("begin") && col("click_ts") < col("end"))
        .groupBy("event_id", "begin").agg(count(lit(1)).as("n_clicks"))
        .select(col("event_id"), col("begin").as("ts"), col("n_clicks"))
    },

    // TimeRange union at scale: every error opens a 6h outage window;
    // overlapping/touching windows per user coalesce to maximal
    // disjoint islands (gaps-and-islands, one window shuffle — the
    // reference folds TimeRange extents pairwise on the driver)
    "ts_interval_coalesce" -> { (s, dir) =>
      val iv = events(s, dir).where(col("event_type") === "error")
        .select(col("user_id"), col("ts").as("b"),
          (col("ts") + lit(6 * UsHour)).as("e"))
      RangeJoin.coalesceIntervals(iv, Seq("user_id"), "b", "e")
    },

    // the complement: gaps BETWEEN the coalesced islands — per-user
    // idle/downtime windows; same one-window-shuffle posture
    "ts_interval_gaps" -> { (s, dir) =>
      val iv = events(s, dir).where(col("event_type") === "error")
        .select(col("user_id"), col("ts").as("b"),
          (col("ts") + lit(6 * UsHour)).as("e"))
      RangeJoin.intervalGaps(iv, Seq("user_id"), "b", "e")
    },

    // spectral screen: which integer frequency (cycles per observed
    // span) dominates each user's daily click activity — the
    // "is this weekly?" question autocorr only answers one lag at a
    // time; k runs 1..6 over the daily grid
    "ts_periodogram" -> { (s, dir) =>
      Trend.periodogram(events(s, dir).where(col("event_type") === "click"),
        "ts", "value", Seq("user_id"), UsDay, maxK = 6)
    },

    // Theil–Sen robust trend per user: median pairwise slope over the
    // daily grid — outlier days can't drag it the way they drag
    // ts_trend_slope's OLS; pair fan-out is calendar-bounded per key
    "ts_theil_sen" -> { (s, dir) =>
      Trend.theilSen(events(s, dir), "ts", "value", Seq("user_id"),
        UsDay, Jan01)
    },

    // the full correlogram: autocorrelation at lags 1..7 per user —
    // ONE key-hash shuffle (lag window, degeneracy windows, and the
    // (key, lag) corr agg all share hash(user_id))
    "ts_acf" -> { (s, dir) =>
      Trend.acf(events(s, dir), "ts", "value", Seq("user_id"), maxLag = 7)
    },

    // WHEN did the level change: binary segmentation's first split
    // (max between-segment sum-of-squares gain) per user over the
    // daily grid — the localization step after ts_cusum's alarm;
    // exact µ-unit prefix sums, argmax tie-broken on the earlier day
    "ts_changepoint" -> { (s, dir) =>
      Trend.changepoint(events(s, dir), "ts", "value", Seq("user_id"),
        UsDay, Jan01)
    },

    // Benford first-digit screen per event type: observed vs expected
    // digit mix + chi² with the α=0.05/8-dof verdict — the feed-
    // integrity monitor; digit from the µ-int's decimal string (no
    // log10), chi² terms µ-snapped before the order-free sum
    "ts_benford" -> { (s, dir) =>
      Trend.benford(events(s, dir), "value", Seq("event_type"))
    },

    // per-series completeness scorecard: observed span, count,
    // expected samples at the nominal 5m cadence, and the coverage
    // ratio — the "is this feed whole" triage ts_gaps localizes;
    // expected = span//cadence + 1 exact integers, ONE partial agg
    "ts_coverage" -> { (s, dir) =>
      val cad = 5 * UsMin
      events(s, dir).groupBy("user_id")
        .agg(min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"),
          count(lit(1)).as("n_events"))
        .withColumn("expected",
          org.apache.spark.sql.graft.Bridge.fldiv(
            col("last_ts") - col("first_ts"), cad) + lit(1L))
        .withColumn("coverage",
          round(col("n_events").cast("double") / col("expected"), 6))
    },

    // threshold run-length analysis: count/extent of maximal
    // consecutive-event runs above value 60 per user — the sustained-
    // breach shape single-flip crossings can't express; ONE key-hash
    // shuffle (islands + both aggs share hash(user_id))
    "ts_runs" -> { (s, dir) =>
      Trend.runsAbove(events(s, dir), "ts", "value", Seq("user_id"),
        60.0, tieCols = Seq("event_id"))
    },

    // Hampel filter: rolling robust outlier screen + repair (centered
    // ±3 window, 3·1.4826·MAD rule in cross-multiplied µ-integers) —
    // the despike pass run before any mean-based smoother
    "ts_hampel" -> { (s, dir) =>
      Trend.hampel(events(s, dir), "ts", "value", Seq("user_id"))
    },

    // banded DTW distance from every series to the all-series daily
    // template: shape deviation tolerant of phase shifts ≤ 7 days —
    // the alignment-aware screen Euclidean residuals can't express;
    // integer-exact BIGINT DP over calendar-bounded arrays
    "ts_dtw" -> { (s, dir) =>
      Trend.dtwToTemplate(events(s, dir), "ts", "value", Seq("user_id"),
        UsDay, Jan01)
    },

    // seasonal/trend strength (FPP3): the two scalars that rank
    // thousands of series by how seasonal / how trended they are —
    // exact µ-int variance sums over the shared decomposition
    "ts_seasonal_strength" -> { (s, dir) =>
      Trend.stlStrength(events(s, dir), "ts", "value", Seq("user_id"),
        UsDay, Jan01)
    },

    // classical additive decomposition per user on the daily grid:
    // value = centered-MA(7) trend + day-of-week seasonal + residual,
    // every mean an exact µ-unit floor (no half-tie anywhere)
    "ts_stl" -> { (s, dir) =>
      Trend.stlDecompose(events(s, dir), "ts", "value", Seq("user_id"),
        UsDay, Jan01, period = 7)
    },

    // residual anomaly screen: z-score against the key's own
    // decomposition residuals — anomalies judged AFTER trend and
    // weekly seasonality are explained away (z > 2.5 registered: the
    // smoke-scale grid is ~30 days/key, where 3σ events are too rare
    // to assert on)
    "ts_stl_outliers" -> { (s, dir) =>
      Trend.stlOutliers(events(s, dir), "ts", "value", Seq("user_id"),
        UsDay, Jan01, period = 7, zThresh = 2.5)
    },

    // SAX symbolization: z-normalized weekly PAA means mapped to a
    // 4-letter alphabet via standard-normal quartile breakpoints —
    // the symbolic series representation motif mining indexes on
    "ts_sax" -> { (s, dir) =>
      Trend.sax(events(s, dir), "ts", "value", Seq("user_id"),
        UsDay, Jan01, paaLen = 7)
    },

    // value-distribution drift per event_type: PSI between the first
    // and second half of the month over the ts_hist bucket geometry —
    // one (key, bin) partial-agg'd shuffle regardless of corpus size
    "ts_drift_psi" -> { (s, dir) =>
      Trend.psiDrift(events(s, dir), "ts", "value", Seq("event_type"),
        Jan15, binWidth = 25.0, nBins = 20)
    },

    // binning-free drift: exact two-sample KS statistic + the α=0.05
    // decision; ONE key-hash shuffle (ECDF window + fused agg)
    "ts_drift_ks" -> { (s, dir) =>
      Trend.ksDrift(events(s, dir), "ts", "value", Seq("event_type"),
        Jan15)
    },

    // categorical drift: per-user event-type MIX shift as a 2×C
    // chi-square with the observed-dof critical value
    "ts_drift_chi2" -> { (s, dir) =>
      Trend.chi2Drift(events(s, dir), "ts", "event_type", Seq("user_id"),
        Jan15)
    },

    "ts_align_linear" -> { (s, dir) =>
      val clicks = events(s, dir).where(col("event_type") === "click")
      TimeSeries(clicks, "ts", Seq("user_id"))
        .align(Seq("value"), "1d", "linear")
        .df.select(col("user_id"), col("ts"), round(col("value"), 6).as("value"))
    },

    "ts_align_hold" -> { (s, dir) =>
      val views = events(s, dir).where(col("event_type") === "view")
      TimeSeries(views, "ts", Seq("user_id"))
        .align(Seq("value"), "1d", "hold", Some(3))
        .df.select("user_id", "ts", "value")
    },

    // deep field access (pypond dotted field_specs, event.py get()):
    // the nested JSON payload parses into a struct scan-side and its
    // fields aggregate like any column — one partial-agg'd shuffle
    "ts_nested_agg" -> { (s, dir) =>
      events(s, dir)
        .withColumn("__p", from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k LONG")))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("__p.k").cast("long")).as("sum_k"),
          Aggs.avg6(col("__p.k")).as("avg_k"))
    },

    // pypond's headline chained Pipeline (align -> rate): per-second
    // derivative of the day-boundary-aligned series. The chain stays
    // ONE lazy plan; both stages hash on the series key (align's
    // union hides its partitioning, so the rate re-shuffles — 2
    // key-hash exchanges, no data explosion)
    "ts_pipeline" -> { (s, dir) =>
      val clicks = events(s, dir).where(col("event_type") === "click")
      TimeSeries(clicks, "ts", Seq("user_id"))
        .align(Seq("value"), "1d", "linear")
        .rate(Seq("value"))
        .df.select(col("user_id"), col("ts_begin"), col("ts_end"),
          (round(col("value_rate"), 6) + lit(0.0)).as("rate"))
    },

    "ts_rate" -> { (s, dir) =>
      val p = events(s, dir).where(col("event_type") === "purchase")
      val rated = Rate(p, "ts", Seq("value"), Seq("user_id"), allowNegative = true)
      // `+ 0.0` collapses IEEE -0.0 to +0.0 (engines differ on the sign
      // of a rounded-away negative; the value is identical)
      rated.select(col("user_id"), col("ts_begin"), col("ts_end"),
        (round(col("value_rate"), 6) + lit(0.0)).as("rate"),
        (round(when(col("value_rate") < 0, lit(null)).otherwise(col("value_rate")), 6)
          + lit(0.0)).as("rate_nonneg"))
    },

    // reset-aware counter rate (SNMP-style monotonic counters): a
    // decrease means the counter restarted, so the new value IS the
    // delta — the op pypond users approximate with allow_negative=false
    "ts_counter_rate" -> { (s, dir) =>
      Rate.counter(events(s, dir).where(col("event_type") === "click"),
        "ts", "value", Seq("user_id"))
    },

    "ts_fill_zero" -> { (s, dir) =>
      val masked_ = events(s, dir).withColumn("mv", masked(col("value")))
      Fill.zero(masked_, Seq("mv"))
        .select(col("event_id"), col("user_id"), col("ts"), col("mv").as("filled"))
    },

    "ts_fill_pad" -> { (s, dir) =>
      val masked_ = events(s, dir).withColumn("mv", masked(col("value")))
      Fill.pad(masked_, "ts", Seq("mv"), Seq("user_id"), fillLimit = Some(2))
        .select(col("event_id"), col("user_id"), col("ts"), col("mv").as("filled"))
    },

    // zero fill with the key_count limit (clean_test.py:590): first 2
    // misses of each gap -> 0, rest stay null; leading gaps fill
    "ts_fill_zero_limit" -> { (s, dir) =>
      val masked_ = events(s, dir).withColumn("mv", masked(col("value")))
      Fill.zeroLimited(masked_, "ts", Seq("mv"), Seq("user_id"), fillLimit = 2)
        .select(col("event_id"), col("user_id"), col("ts"), col("mv").as("filled"))
    },

    "ts_fill_linear" -> { (s, dir) =>
      val masked_ = events(s, dir).withColumn("mv", masked(col("value")))
      Fill.linear(masked_, "ts", "mv", Seq("user_id"))
        .select(col("event_id"), col("user_id"), col("ts"),
          round(col("mv"), 6).as("filled"))
    },

    "ts_offset" -> { (s, dir) =>
      Shape.offsetBy(events(s, dir), 2.5, Seq("value"))
        .select(col("event_id"), col("ts"), col("value").as("offset_value"))
    },

    "ts_take" -> { (s, dir) =>
      Shape.take(events(s, dir).select("user_id", "ts", "event_id", "value"),
        "ts", Seq("user_id"), 5, tieBreak = Seq("event_id"))
    },

    // positional slice [3, 8) per series, Python-slice semantics
    "ts_slice" -> { (s, dir) =>
      Shape.slice(events(s, dir).select("user_id", "ts", "event_id", "value"),
        "ts", Seq("user_id"), from = 3, until = 8, tieBreak = Seq("event_id"))
    },

    // distribution-rank window family: percent_rank / cume_dist /
    // ntile per group — one shuffle on the group key, per-partition
    // sort, no second pass
    "q_rank_stats" -> { (s, dir) =>
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      tbl(s, dir, "orders").select(
        col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
        round(percent_rank().over(w), 6).as("pr"),
        round(cume_dist().over(w), 6).as("cd"),
        ntile(4).over(w).as("quartile"))
    },

    // seasonal profile: per (event_type, UTC hour-of-day, ISO weekday)
    // aggregate — calendar buckets derived arithmetically from the
    // canonical µs epoch, one partial-agg'd shuffle to 7×24×#types rows
    "ts_seasonal" -> { (s, dir) =>
      val t = TimeIndex.toTimestamp(col("ts"))
      events(s, dir).groupBy(col("event_type"),
          hour(t).as("hod"),
          ((dayofweek(t) + lit(5)) % 7 + lit(1)).as("dow_iso"))
        .agg(count(lit(1)).as("n"), Aggs.avg6(col("value")).as("avg_value"))
    },

    // robust outliers via median absolute deviation: two tiny
    // per-group percentile aggs (each one partial-agg'd shuffle to
    // #groups rows) broadcast back over the scan — the robust sibling
    // of ts_outliers' mean/stddev z-score
    "ts_mad" -> { (s, dir) =>
      val ev = events(s, dir).select("user_id", "ts", "event_type", "value")
      val med = ev.groupBy("event_type")
        .agg(percentile(col("value"), lit(0.5)).as("med"))
      val withMed = ev.join(broadcast(med), Seq("event_type"))
      val mad = withMed.groupBy("event_type")
        .agg(percentile(abs(col("value") - col("med")), lit(0.5)).as("mad"))
      withMed.join(broadcast(mad), Seq("event_type"))
        // filter on the RAW ratio (the oracle does too) — filtering the
        // rounded value would disagree on ratios that round down to 3.0
        .withColumn("__r", abs(col("value") - col("med")) / col("mad"))
        .where(col("__r") > 3.0)
        .select(col("event_type"), col("user_id"), col("ts"), col("value"),
          round(col("__r"), 6).as("dev_ratio"))
    },

    // gap detection: consecutive-event deltas above 1h (outage screen)
    "ts_gaps" -> { (s, dir) =>
      Trend.gaps(events(s, dir), "ts", Seq("user_id"), UsHour)
    },

    // bounded-window EWMA — recursive +/* fold, no pow(): the float
    // sequence is engine-bit-identical by construction
    "ts_ewma" -> { (s, dir) =>
      Trend.ewma(events(s, dir).select("user_id", "ts", "value"),
        "ts", "value", Seq("user_id"))
    },

    // Holt double-exponential smoothing: level + trend + the
    // one-step forecast is level + trend (ewma's trend-aware upgrade)
    "ts_holt" -> { (s, dir) =>
      Trend.holt(events(s, dir).select("user_id", "ts", "value"),
        "ts", "value", Seq("user_id"), HoltAlpha, HoltBeta)
    },

    // Kleinberg burst state over inter-event gaps: renormalized
    // forward Viterbi as a native window fold, ONE key-hash shuffle
    "ts_burst" -> { (s, dir) =>
      Trend.burst(events(s, dir).select("user_id", "ts"),
        "ts", Seq("user_id"), BurstLam0, BurstLam1, BurstGamma)
    },

    // Holt-Winters triple smoothing over the daily click grid: level
    // + trend + the weekly (period-7) seasonal profile — the
    // season-aware forecast holt can't express; same native
    // window-fold family (HwAgg), daily pre-agg first so the season
    // index is calendar-meaningful
    "ts_holt_winters" -> { (s, dir) =>
      val b = (org.apache.spark.sql.graft.Bridge.fldiv(col("ts"), UsDay)
        * UsDay).as("bucket")
      val r = events(s, dir).where(col("event_type") === "click")
        .groupBy(col("user_id"), b)
        .agg(round(avg(col("value")), 6).as("v"))
      Trend.holtWinters(r, "bucket", "v", Seq("user_id"),
        HoltAlpha, HoltBeta, HwGamma, HwPeriod, span = 28)
    },

    // one-step-ahead BACKTEST of the smoothing family on the daily
    // grid: MAE of naive (lag) vs Holt (l+b) vs Holt-Winters (l+b+s')
    // forecasts, per key, errors µ-floored — the eval that says which
    // smoother a series deserves (the emb_ann_recall of forecasting);
    // both folds and the lags share ONE series-key window partitioning
    "ts_forecast_eval" -> { (s, dir) =>
      import org.apache.spark.sql.graft.GraftExpressions.{holt_fold, hw_fold}
      val b = (org.apache.spark.sql.graft.Bridge.fldiv(col("ts"), UsDay)
        * UsDay).as("bucket")
      val grid = events(s, dir).where(col("event_type") === "click")
        .groupBy(col("user_id"), b)
        .agg(round(avg(col("value")), 6).as("v"))
      val ord = Window.partitionBy("user_id").orderBy(col("bucket"), col("v"))
      val wf = ord.rowsBetween(-27, 0)
      val st = grid
        .withColumn("__h", holt_fold(col("v"), HoltAlpha, HoltBeta).over(wf))
        .withColumn("__w", hw_fold(col("v"), HoltAlpha, HoltBeta, HwGamma,
          HwPeriod).over(wf))
        .withColumn("__fn", lag(col("v"), 1).over(ord))
        .withColumn("__fh",
          lag(col("__h.level") + col("__h.trend"), 1).over(ord))
        .withColumn("__fw", lag(col("__w.level") + col("__w.trend")
          + col("__w.ahead"), 1).over(ord))
      def err(f: Column) = floor(abs(col("v") - f) * lit(1e6)).cast("long")
      def mae(f: Column) =
        round(sum(err(f)).cast("double") / count(f) / lit(1e6), 6)
      st.groupBy("user_id")
        .agg(count(col("__fn")).as("n"),
          mae(col("__fn")).as("mae_naive"),
          mae(col("__fh")).as("mae_holt"),
          mae(col("__fw")).as("mae_hw"))
        .withColumn("best",
          when(col("mae_naive") <= col("mae_holt") &&
            col("mae_naive") <= col("mae_hw"), lit("naive"))
          .when(col("mae_holt") <= col("mae_hw"), lit("holt"))
          .otherwise(lit("hw")))
    },

    // trapezoidal integral per (series, hour) — the inverse of rate
    "ts_integral" -> { (s, dir) =>
      Trend.integral(events(s, dir), "ts", "value", Seq("user_id"), "1h")
    },

    // LTTB downsampling (parallel bucket-mean-anchor variant): one
    // visually-representative point per (series, day)
    "ts_lttb" -> { (s, dir) =>
      Trend.lttb(events(s, dir), "ts", "value", Seq("user_id"), "1d")
    },

    // M4 pixel-perfect downsampling: first/last/min/max anchors per
    // (series, hour) — pure partial-aggregable min/max of structs
    "ts_m4" -> { (s, dir) =>
      Trend.m4(events(s, dir), "ts", "value", Seq("user_id"), "1h")
    },

    // seasonal-adjusted anomaly screen: z-score against the series'
    // OWN hour-of-day profile (ts_outliers' seasonal sibling — a
    // nightly batch job is only anomalous relative to other nights)
    "ts_seasonal_outliers" -> { (s, dir) =>
      val hod = pmod(org.apache.spark.sql.graft.Bridge
        .fldiv(col("ts"), UsHour), lit(24L))
      val w = Window.partitionBy(col("user_id"), col("hod"))
      events(s, dir).select(col("user_id"), col("ts"), col("value"))
        .withColumn("hod", hod)
        .withColumn("mu", avg(col("value")).over(w))
        .withColumn("sigma", stddev_pop(col("value")).over(w))
        // single-observation cells have sigma 0 — no distribution to
        // deviate from, so they cannot alarm (and ANSI mode would
        // otherwise fault on the division)
        .where(col("sigma") > 0)
        .withColumn("z", round((col("value") - col("mu")) / col("sigma"), 6))
        .where(col("z") > 2.0)
        .select(col("user_id"), col("ts"), col("hod"), col("value"), col("z"))
    },

    // --- §2.4 shaping ----------------------------------------------
    "ts_select" -> { (s, dir) =>
      Shape.rename(
        Shape.select(events(s, dir), Seq("user_id", "ts", "value")),
        Map("value" -> "reading"))
    },

    "ts_map" -> { (s, dir) =>
      events(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .select(col("event_id"), col("ts"), col("k"),
          (col("value") * col("k")).as("scaled"))
    },

    "ts_filter" -> { (s, dir) =>
      Shape.clean(
        events(s, dir).where(col("event_type") === "error" && col("value") > 10),
        "value")
        .select("event_id", "user_id", "ts", "value")
    },

    "ts_collapse" -> { (s, dir) =>
      Shape.collapse(tbl(s, dir, "lineitem"), Seq("l_quantity", "l_extendedprice"),
        "combined", Shape.sumReducer)
        .select("l_orderkey", "l_linenumber", "combined")
    },

    "ts_dedup" -> { (s, dir) =>
      Shape.dedup(events(s, dir), Seq("user_id", "event_type"), "event_id")
        .select("user_id", "event_type", "event_id", "ts", "value")
    },

    "ts_sort" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      events(s, dir).select(col("user_id"), col("ts"))
        .withColumn("pos", row_number().over(w))
    },

    // Collection.sort(field_path) (collection.py:460): order by a VALUE
    // field, not time — per-series rank, (value, ts, event_id) ordering
    // for determinism
    "ts_sort_by_field" -> { (s, dir) =>
      Shape.sortBy(
        events(s, dir).select("user_id", "ts", "event_id", "value"),
        Seq("user_id"), Seq("value", "ts", "event_id"))
    },

    // TimeSeries.at_time / bisect (series.py:335,395): latest event at
    // or before Jan 10 per series — a pushed-down filter + per-key
    // top-1, not a driver-side binary search
    "ts_at_time" -> { (s, dir) =>
      TimeSeries(events(s, dir)
          .select("user_id", "ts", "event_id", "value"),
          "ts", Seq("user_id"))
        .atTime(Jan10, tieBreak = Seq("event_id"))
    },

    // Collection.at_key (collection.py:238) + event_list_as_map
    // (collection.py:414): ALL events at an exact timestamp key — the
    // key here is the corpus's earliest ts, derived IN-PLAN and
    // broadcast against the scan (no driver round-trip) — grouped per
    // (series, ts) with the deterministically ordered id list
    "ts_at_key" -> { (s, dir) =>
      val ev = events(s, dir).select("user_id", "ts", "event_id", "value")
      graft.ts.TimeSeries(ev, "ts", Seq("user_id"))
        .atKeyOf(ev.agg(min(col("ts")).as("__key")))
        .groupBy(col("user_id"), col("ts"))
        .agg(count(lit(1)).as("n"),
          concat_ws(",", transform(sort_array(collect_list(col("event_id"))),
            _.cast("string"))).as("event_ids"),
          Aggs.sumExactD(col("value")).as("sum_value"))
    },

    "ts_rename" -> { (s, dir) =>
      Shape.rename(
        events(s, dir).select("event_id", "ts", "event_type", "value"),
        Map("event_type" -> "kind", "value" -> "reading"))
    },

    "ts_crop" -> { (s, dir) =>
      Shape.crop(events(s, dir), "ts", Jan08, Jan15)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), Aggs.sumExactD(col("value")).as("sum_value"))
    },

    // --- §2.5 multi-series combination -----------------------------
    "ts_merge" -> { (s, dir) =>
      val ev = events(s, dir)
      def hourly(typ: String, out: String): DataFrame =
        TimeSeries(ev.where(col("event_type") === typ), "ts", Seq("user_id"))
          .fixedWindowRollup("1h", Seq(Aggs.sumExactD(col("value")).as(out)))
      Combine.merge(
        Seq(hourly("click", "clicks"), hourly("view", "views")),
        Seq("user_id", "idx"))
    },

    "ts_combine_sum" -> { (s, dir) =>
      val ev = events(s, dir)
      def series(typ: String): DataFrame =
        ev.where(col("event_type") === typ)
          .select(col("user_id"), TimeIndex.indexOf(col("ts"), "1h").as("idx"),
            col("value"))
      Combine.reduceSeries(Seq(series("click"), series("view")),
        Seq("user_id", "idx"),
        Seq(Aggs.sumExactD(col("value")).as("total")))
    },

    "ts_combine_avg" -> { (s, dir) =>
      val ev = events(s, dir)
      def series(typ: String): DataFrame =
        ev.where(col("event_type") === typ)
          .select(col("user_id"), TimeIndex.indexOf(col("ts"), "1h").as("idx"),
            col("value"))
      Combine.reduceSeries(Seq(series("purchase"), series("error")),
        Seq("user_id", "idx"),
        Seq(Aggs.avg6(col("value")).as("avg_value")))
    },

    "ts_asof_lookup" -> { (s, dir) =>
      val ev = events(s, dir)
      val purchases = ev.where(col("event_type") === "purchase")
      val clicks = ev.where(col("event_type") === "click")
      Combine.asof(purchases, clicks, Seq("user_id"), "ts",
        leftCols = Seq("event_id", "value"), rightVals = Seq("value"))
    },

    // merge_asof's tolerance parameter: a click older than 1 hour is
    // stale — the lookup nulls out instead of surfacing misinformation
    "ts_asof_tolerance" -> { (s, dir) =>
      val ev = events(s, dir)
      val purchases = ev.where(col("event_type") === "purchase")
      val clicks = ev.where(col("event_type") === "click")
      Combine.asofTolerance(purchases, clicks, Seq("user_id"), "ts",
        leftCols = Seq("event_id", "value"), rightVals = Seq("value"),
        toleranceUs = UsHour)
    },

    // the forward mirror: earliest click AT OR AFTER each purchase —
    // "next reading after this point" (asof's following-frame twin)
    "ts_asof_next" -> { (s, dir) =>
      val ev = events(s, dir)
      val purchases = ev.where(col("event_type") === "purchase")
      val clicks = ev.where(col("event_type") === "click")
      Combine.asofNext(purchases, clicks, Seq("user_id"), "ts",
        leftCols = Seq("event_id", "value"), rightVals = Seq("value"))
    },

    // --- §2.6 timerange algebra ------------------------------------
    "ts_timerange" -> { (s, dir) =>
      val qb = lit(Jan10)
      val qe = lit(Jan20)
      events(s, dir).groupBy("user_id", "event_type")
        .agg(min(col("ts")).as("b"), max(col("ts")).as("e"))
        .select(col("user_id"), col("event_type"), col("b"), col("e"),
          org.apache.spark.sql.graft.Bridge.ldiv(col("e") - col("b"), 1000L)
            .as("duration_ms"),
          TimeRange.overlapsCol(col("b"), col("e"), qb, qe).as("overlaps_q"),
          (col("b") <= qb && col("e") >= qe).as("contains_q"),
          TimeRange.intersectionDurUs(col("b"), col("e"), qb, qe).as("isect_us"))
    },

    // index.py:439 get_index_string_list: every daily index covering
    // each (user, type)'s observed range — index algebra over
    // TimeRanges, computed scan-side after one tiny agg
    "ts_index_list" -> { (s, dir) =>
      events(s, dir).groupBy("user_id", "event_type")
        .agg(min(col("ts")).as("b"), max(col("ts")).as("e"))
        .select(col("user_id"), col("event_type"),
          explode(TimeIndex.indexList(col("b"), col("e"), "1d")).as("idx"))
    },

    "ts_timerange_rel" -> { (s, dir) =>
      val ev = events(s, dir)
      val mx = ev.agg(max(col("ts")).as("mx"))
      Par.withScalars(ev, mx)
        .where(col("ts") > col("mx") - lit(7L * UsDay))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), Aggs.sumExactD(col("value")).as("sum_value"))
    }
  )

  // --------------------------------------------------------- oracles

  private val EvUs = "epoch_us(ts)"
  private val Sum6 = "DECIMAL(38,6)"

  private def coreOracles: Map[String, String] = Map(
    "q1_agg" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(sum(CAST(l_quantity AS $Sum6)) AS DOUBLE) AS sum_qty,
         |  CAST(sum(CAST(l_extendedprice AS $Sum6)) AS DOUBLE) AS sum_base_price,
         |  CAST(sum(CAST(l_extendedprice*(1.0-l_discount) AS $Sum6))
         |    AS DOUBLE) AS sum_disc_price,
         |  CAST(sum(CAST(l_extendedprice*(1.0-l_discount)*(1.0+l_tax) AS $Sum6))
         |    AS DOUBLE) AS sum_charge,
         |  round(avg(l_quantity),6) AS avg_qty,
         |  round(avg(l_extendedprice),6) AS avg_price,
         |  round(avg(l_discount),6) AS avg_disc,
         |  count(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q3_join" ->
      s"""SELECT n_name,
         |  CAST(sum(CAST(l_extendedprice*(1.0-l_discount) AS $Sum6))
         |    AS DOUBLE) AS revenue,
         |  count(DISTINCT o_orderkey) AS n_orders
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |GROUP BY n_name""".stripMargin,

    "q4_semijoin" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey
        |    AND l_returnflag = 'R' AND l_discount > 0.05)
        |GROUP BY o_orderpriority""".stripMargin,

    "q5_multijoin" ->
      s"""SELECT r_name, n_name,
         |  CAST(sum(CAST(l_extendedprice*(1.0-l_discount) AS $Sum6))
         |    AS DOUBLE) AS revenue,
         |  count(*) AS n_items
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN customer ON o_custkey = c_custkey
         |  AND c_nationkey = s_nationkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY r_name, n_name""".stripMargin,

    "q_topn_window" ->
      """SELECT o_orderpriority, rnk, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM orders) WHERE rnk <= 3""".stripMargin,

    "q_events_sessionize" ->
      s"""WITH s AS (SELECT user_id, $EvUs AS tns, value FROM events),
         |m AS (SELECT user_id, tns, value,
         |  CASE WHEN lag(tns) OVER w IS NULL
         |         OR tns - lag(tns) OVER w > 1800000000
         |       THEN 1 ELSE 0 END AS new_sess
         |  FROM s WINDOW w AS (PARTITION BY user_id ORDER BY tns)),
         |g AS (SELECT user_id, tns, value,
         |  CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY tns
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
         |  FROM m)
         |SELECT user_id, session_id, min(tns) AS session_start,
         |  max(tns) AS session_end, count(*) AS n_events,
         |  CAST(sum(CAST(value AS $Sum6)) AS DOUBLE) AS sum_value
         |FROM g GROUP BY user_id, session_id""".stripMargin,

    // sketch internals are engine-specific, so the oracle pins the
    // EXACT columns and literal-TRUE tolerance verdicts: a GK/HLL
    // regression flips a Spark-side verdict and hash-fails here
    "ts_agg_approx" ->
      s"""SELECT event_type, count(*) AS n,
         |  count(DISTINCT user_id) AS n_users_exact,
         |  round(quantile_cont(value, 0.5), 6) AS p50_exact,
         |  round(quantile_cont(value, 0.99), 6) AS p99_exact,
         |  TRUE AS p50_in_tol, TRUE AS p99_in_tol, TRUE AS nd_in_tol
         |FROM events GROUP BY event_type""".stripMargin,

    "ts_agg_basic" ->
      s"""SELECT event_type, CAST(sum(CAST(value AS $Sum6)) AS DOUBLE) AS sum_value,
         |  round(avg(value),6) AS avg_value, min(value) AS min_value,
         |  max(value) AS max_value, count(*) AS n
         |FROM events GROUP BY event_type""".stripMargin,

    "ts_agg_first_last" ->
      s"""SELECT user_id, min($EvUs) AS first_ts, max($EvUs) AS last_ts,
         |  arg_min(value, $EvUs) AS first_value,
         |  arg_max(value, $EvUs) AS last_value
         |FROM events GROUP BY user_id""".stripMargin,

    "ts_agg_stats" ->
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5),6) AS median_value,
        |  round(stddev_pop(value),6) AS stdev_value,
        |  round(quantile_cont(value, 0.9),6) AS p90_value,
        |  max(value) - min(value) AS diff_value
        |FROM events GROUP BY event_type""".stripMargin,

    "ts_quantile" ->
      """SELECT event_type,
        |  round(quantile_cont(value, 0.25),6) AS p25,
        |  round(quantile_cont(value, 0.5),6) AS p50,
        |  round(quantile_cont(value, 0.75),6) AS p75
        |FROM events GROUP BY event_type""".stripMargin,

    "ts_percentile_methods" ->
      """WITH g AS (SELECT event_type,
        |    list_sort(list(value) FILTER (value IS NOT NULL)) AS arr,
        |    (count(value) - 1) * 0.9 AS h
        |  FROM events GROUP BY event_type)
        |SELECT event_type,
        |  arr[CAST(floor(h) AS INTEGER) + 1] AS p90_lower,
        |  arr[CAST(ceil(h) AS INTEGER) + 1] AS p90_higher,
        |  arr[CAST(CASE WHEN h - floor(h) = 0.5
        |      THEN CASE WHEN CAST(floor(h) AS BIGINT) % 2 = 0
        |        THEN floor(h) ELSE floor(h) + 1 END
        |      ELSE floor(h + 0.5) END AS INTEGER) + 1] AS p90_nearest,
        |  round((arr[CAST(floor(h) AS INTEGER) + 1]
        |    + arr[CAST(ceil(h) AS INTEGER) + 1]) / 2, 6) AS p90_midpoint
        |FROM g""".stripMargin,

    "ts_agg_filters" ->
      """WITH s AS (SELECT event_type,
        |  CASE WHEN value < 5.0 THEN NULL ELSE value END AS mv,
        |  CASE WHEN value < -1e18 THEN value END AS mv2 FROM events)
        |SELECT event_type,
        |  round(avg(mv),6) AS avg_ignore,
        |  round(avg(coalesce(mv, 0)),6) AS avg_zero,
        |  CASE WHEN count(*) <> count(mv) THEN NULL
        |       ELSE round(avg(mv),6) END AS avg_propagate,
        |  count(*) AS n_keep,
        |  count(mv) AS n_valid,
        |  CASE WHEN count(mv2) = 0 THEN NULL
        |       ELSE count(mv2) END AS cnt_none_if_empty,
        |  CASE WHEN min(CAST(len(event_type) AS BIGINT))
        |         = max(CAST(len(event_type) AS BIGINT))
        |       THEN min(CAST(len(event_type) AS BIGINT)) END AS keep_const,
        |  CASE WHEN min(mv) = max(mv) THEN min(mv) END AS keep_varied
        |FROM s GROUP BY event_type""".stripMargin,

    "ts_size_valid" ->
      """SELECT user_id, count(*) AS n,
        |  count(CASE WHEN value >= 5.0 THEN 1 END) AS n_valid
        |FROM events GROUP BY user_id""".stripMargin,

    "ts_rollup_5m" ->
      s"""SELECT user_id,
         |  '5m-' || CAST($EvUs // 300000000 AS VARCHAR) AS idx,
         |  round(avg(value),6) AS avg_value,
         |  CAST(sum(CAST(value AS $Sum6)) AS DOUBLE) AS sum_value,
         |  max(value) AS max_value, count(*) AS n
         |FROM events GROUP BY 1, 2""".stripMargin,

    "ts_rollup_1h" ->
      s"""SELECT user_id,
         |  '1h-' || CAST($EvUs // 3600000000 AS VARCHAR) AS idx,
         |  CAST(sum(CAST(value AS $Sum6)) AS DOUBLE) AS sum_value, count(*) AS n
         |FROM events GROUP BY 1, 2""".stripMargin,

    // latency rollup: quantile_cont IS Spark's exact percentile()
    "ts_rollup_p95" ->
      s"""SELECT user_id,
         |  '1h-' || CAST($EvUs // 3600000000 AS VARCHAR) AS idx,
         |  round(quantile_cont(value, 0.5), 6) AS p50,
         |  round(quantile_cont(value, 0.95), 6) AS p95,
         |  round(quantile_cont(value, 0.99), 6) AS p99,
         |  count(*) AS n
         |FROM events GROUP BY 1, 2""".stripMargin,

    // SLO burn: exact counts, cross-multiplied breach (n_err·10 > n)
    "q_slo_burn" ->
      s"""SELECT user_id,
         |  ($EvUs - 1704067200000000) // 86400000000 AS day,
         |  count(*) AS n_events,
         |  count(CASE WHEN event_type = 'error' THEN 1 END) AS n_errors,
         |  round(CAST(count(CASE WHEN event_type = 'error' THEN 1 END)
         |      AS DOUBLE) / count(*), 6) AS err_frac,
         |  round(CAST(count(CASE WHEN event_type = 'error' THEN 1 END)
         |      AS DOUBLE) / count(*) / 0.1, 6) AS burn_rate,
         |  count(CASE WHEN event_type = 'error' THEN 1 END) * 10 > count(*)
         |    AS breach
         |FROM events GROUP BY 1, 2""".stripMargin,

    "ts_rollup_daily" ->
      s"""SELECT event_type, strftime(ts, '%Y-%m-%d') AS idx,
         |  CAST(sum(CAST(value AS $Sum6)) AS DOUBLE) AS sum_value,
         |  round(avg(value),6) AS avg_value, count(*) AS n
         |FROM events GROUP BY 1, 2""".stripMargin,

    // timezone(tz, timezone('UTC', ts)): anchor the naive UTC wall
    // time as an instant, then render it in the target zone —
    // DST-aware on both engines (ICU in DuckDB, JVM tzdb in Spark)
    "ts_rollup_daily_tz" ->
      s"""SELECT event_type,
         |  strftime(timezone('America/New_York', timezone('UTC', ts)),
         |    '%Y-%m-%d') AS idx,
         |  CAST(sum(CAST(value AS $Sum6)) AS DOUBLE) AS sum_value,
         |  count(*) AS n
         |FROM events GROUP BY 1, 2""".stripMargin,

    "ts_rollup_monthly" ->
      s"""SELECT user_id, strftime(ts, '%Y-%m') AS idx,
         |  CAST(sum(CAST(value AS $Sum6)) AS DOUBLE) AS sum_value, count(*) AS n
         |FROM events GROUP BY 1, 2""".stripMargin,

    "ts_rollup_monthly_tz" ->
      s"""SELECT user_id,
         |  strftime(timezone('Asia/Tokyo', timezone('UTC', ts)),
         |    '%Y-%m') AS idx,
         |  CAST(sum(CAST(value AS $Sum6)) AS DOUBLE) AS sum_value, count(*) AS n
         |FROM events GROUP BY 1, 2""".stripMargin,

    "ts_rollup_yearly" ->
      s"""SELECT strftime(ts, '%Y') AS idx,
         |  CAST(sum(CAST(value AS $Sum6)) AS DOUBLE) AS sum_value, count(*) AS n
         |FROM events GROUP BY 1""".stripMargin,

    "ts_rollup_sliding" ->
      s"""WITH e AS (SELECT event_type, $EvUs AS tus, value FROM events),
         |x AS (SELECT event_type, value,
         |    unnest(range((tus - 7200000000) // 3600000000 + 1,
         |                 tus // 3600000000 + 1)) AS pos
         |  FROM e)
         |SELECT event_type, pos * 3600000000 AS ts_begin,
         |  pos * 3600000000 + 7200000000 AS ts_end,
         |  count(*) AS n, CAST(sum(CAST(value AS $Sum6)) AS DOUBLE) AS sum_value
         |FROM x GROUP BY 1, 2, 3""".stripMargin,

    "ts_collect_by_window" ->
      s"""SELECT user_id,
         |  ($EvUs // 86400000000) * 86400000000 AS ts_begin,
         |  ($EvUs // 86400000000 + 1) * 86400000000 AS ts_end,
         |  count(*) AS n, CAST(sum(CAST(value AS $Sum6)) AS DOUBLE) AS sum_value
         |FROM events GROUP BY 1, 2, 3""".stripMargin,

    "ts_agg_by_key" ->
      s"""SELECT user_id, count(*) AS n, CAST(sum(CAST(value AS $Sum6)) AS DOUBLE) AS sum_value,
         |  round(avg(value),6) AS avg_value
         |FROM events GROUP BY user_id""".stripMargin,

    "ts_crossings" ->
      s"""WITH p AS (SELECT user_id, $EvUs AS tus, value,
         |  lag(value) OVER (PARTITION BY user_id ORDER BY $EvUs) AS prev_v
         |  FROM events)
         |SELECT user_id, tus AS ts, prev_v, value,
         |  CASE WHEN value >= 100.0 THEN 'up' ELSE 'down' END AS direction
         |FROM p
         |WHERE prev_v IS NOT NULL
         |  AND ((prev_v < 100.0 AND value >= 100.0)
         |    OR (prev_v >= 100.0 AND value < 100.0))""".stripMargin,

    // prefix-sum + running-min CUSUM rewrite; yus is the tie-free
    // µ-unit floor, so both engines run exact-integer prefixes
    "ts_cusum" ->
      s"""WITH y AS (SELECT user_id, $EvUs AS tus, value,
         |  CAST(floor(value * 1e6) AS BIGINT) - $CusumTargetUs AS yus
         |  FROM events),
         |p AS (SELECT *, sum(yus) OVER (PARTITION BY user_id
         |  ORDER BY tus, value ROWS BETWEEN UNBOUNDED PRECEDING AND
         |  CURRENT ROW) AS pre FROM y),
         |cs AS (SELECT *, pre - least(0, min(pre) OVER (PARTITION BY user_id
         |  ORDER BY tus, value ROWS BETWEEN UNBOUNDED PRECEDING AND
         |  CURRENT ROW)) AS sus FROM p)
         |SELECT user_id, tus AS ts, value, CAST(sus AS DOUBLE) / 1e6 AS cusum
         |FROM cs WHERE sus > $CusumHUs""".stripMargin,

    // anchor tie-breaks mirror the struct-lexicographic mins/maxes:
    // v_first = MIN value at the earliest ts, v_last = MAX value at
    // the latest, tmin = earliest ts at vmin, tmax = latest at vmax
    "ts_m4" ->
      s"""WITH e2 AS (SELECT user_id, $EvUs // 3600000000 AS bucket,
         |    $EvUs AS tus, value FROM events),
         |g AS (SELECT user_id, bucket, count(*) AS n, min(tus) AS tf,
         |    max(tus) AS tl, min(value) AS vmin, max(value) AS vmax
         |  FROM e2 GROUP BY 1, 2)
         |SELECT g.user_id, g.bucket, g.n,
         |  g.tf AS t_first,
         |  min(CASE WHEN e2.tus = g.tf THEN e2.value END) AS v_first,
         |  g.tl AS t_last,
         |  max(CASE WHEN e2.tus = g.tl THEN e2.value END) AS v_last,
         |  g.vmin, min(CASE WHEN e2.value = g.vmin THEN e2.tus END) AS tmin,
         |  g.vmax, max(CASE WHEN e2.value = g.vmax THEN e2.tus END) AS tmax
         |FROM g JOIN e2 ON e2.user_id = g.user_id AND e2.bucket = g.bucket
         |GROUP BY 1, 2, 3, 4, 6, 8, 10""".stripMargin,

    // sigma-0 cells (single observation) are excluded on both sides
    "ts_seasonal_outliers" ->
      s"""WITH p AS (SELECT user_id, $EvUs AS tus,
         |  ($EvUs // 3600000000) % 24 AS hod, value,
         |  avg(value) OVER w AS mu, stddev_pop(value) OVER w AS sigma
         |  FROM events WINDOW w AS (PARTITION BY user_id,
         |    ($EvUs // 3600000000) % 24)),
         |z AS (SELECT user_id, tus, hod, value,
         |    round((value - mu) / sigma, 6) AS z
         |  FROM p WHERE sigma > 0)
         |SELECT user_id, tus AS ts, hod, value, z FROM z
         |WHERE z > 2.0""".stripMargin,

    "ts_outliers" ->
      s"""WITH z AS (SELECT user_id, $EvUs AS tus, value,
         |  round((value - avg(value) OVER (PARTITION BY user_id))
         |    / stddev_pop(value) OVER (PARTITION BY user_id), 6) AS z
         |  FROM events)
         |SELECT user_id, tus AS ts, value, z FROM z WHERE z > 2.5""".stripMargin,

    "ts_rolling" ->
      s"""SELECT user_id, $EvUs AS ts,
         |  round(avg(value) OVER (PARTITION BY user_id ORDER BY $EvUs
         |    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW), 6) AS ma10,
         |  CAST(sum(CAST(value AS $Sum6)) OVER (PARTITION BY user_id
         |    ORDER BY $EvUs
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    AS DOUBLE) AS running_total
         |FROM events""".stripMargin,

    // bands derive from the ALREADY-6dp-rounded mid/sigma, mirroring
    // the Spark side's nesting exactly
    "ts_bands" ->
      s"""WITH bb AS (SELECT user_id, $EvUs AS tus, value,
         |    round(avg(value) OVER w, 6) AS mid,
         |    round(stddev_pop(value) OVER w, 6) AS sigma
         |  FROM events WINDOW w AS (PARTITION BY user_id
         |    ORDER BY $EvUs, value
         |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
         |b2 AS (SELECT user_id, tus, value, mid, sigma,
         |    round(mid + 2.0 * sigma, 6) AS band_up,
         |    round(mid - 2.0 * sigma, 6) AS band_dn FROM bb)
         |SELECT user_id, tus AS ts, value, mid, sigma, band_up, band_dn,
         |  CASE WHEN value > band_up THEN 'up'
         |       WHEN value < band_dn THEN 'down'
         |       ELSE 'in' END AS breach
         |FROM b2""".stripMargin,

    "ts_rolling_median" ->
      s"""SELECT user_id, $EvUs AS ts, value,
         |  round(quantile_cont(value, 0.5) OVER (PARTITION BY user_id
         |    ORDER BY $EvUs, value
         |    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW), 6) AS med10
         |FROM events""".stripMargin,

    "ts_rolling_time" ->
      s"""SELECT user_id, $EvUs AS ts, value,
         |  count(*) OVER w AS n_span,
         |  round(avg(value) OVER w, 6) AS avg_span
         |FROM events
         |WINDOW w AS (PARTITION BY user_id ORDER BY $EvUs
         |  RANGE BETWEEN ${10 * UsMin} PRECEDING AND CURRENT ROW)"""
        .stripMargin,

    "ts_autocorr" ->
      s"""WITH p AS (SELECT user_id, value,
         |  lag(value) OVER (PARTITION BY user_id ORDER BY $EvUs, value)
         |    AS prev
         |  FROM events)
         |SELECT user_id, count(*) AS n_pairs,
         |  round(corr(value, prev), 6) AS autocorr
         |FROM p WHERE prev IS NOT NULL GROUP BY user_id""".stripMargin,

    "ts_cross_corr" ->
      s"""WITH r AS (SELECT user_id,
         |    ($EvUs // 86400000000) * 86400000000 AS bucket,
         |    event_type, round(avg(value), 6) AS v
         |  FROM events WHERE event_type IN ('click', 'view')
         |  GROUP BY 1, 2, 3),
         |x AS (SELECT user_id, bucket, v FROM r WHERE event_type = 'click'),
         |y AS (SELECT user_id, bucket, v FROM r WHERE event_type = 'view'),
         |l AS (SELECT unnest([0, 1, 2]) AS lag),
         |j AS (SELECT x.user_id, l.lag, x.v AS xv, y.v AS yv
         |  FROM x CROSS JOIN l JOIN y ON y.user_id = x.user_id
         |    AND y.bucket = x.bucket + l.lag * 86400000000),
         |g AS (SELECT user_id, lag, count(*) AS n_pairs,
         |    round(corr(xv, yv), 6) AS xcorr
         |  FROM j GROUP BY 1, 2
         |  HAVING count(*) >= 2 AND stddev_samp(xv) > 0
         |    AND stddev_samp(yv) > 0)
         |SELECT user_id, lag, n_pairs, xcorr FROM g""".stripMargin,

    "q_interval_join" ->
      s"""WITH e AS (SELECT user_id, event_id, $EvUs AS tus, event_type
         |  FROM events)
         |SELECT e.user_id, e.event_id, e.tus AS ts,
         |  count(c.tus) AS n_clicks
         |FROM e LEFT JOIN e c
         |  ON c.user_id = e.user_id AND c.event_type = 'click'
         |  AND c.tus >= e.tus AND c.tus < e.tus + ${30 * UsMin}
         |WHERE e.event_type = 'error'
         |GROUP BY 1, 2, 3""".stripMargin,

    // the oracle IS the naive containment join — DuckDB runs it as
    // written; the Spark side must produce identical rows through the
    // rule's banded rewrite
    "q_interval_join_auto" ->
      s"""WITH e AS (SELECT user_id, event_id, $EvUs AS tus, event_type
         |  FROM events),
         |iv AS (SELECT event_id, tus AS b, tus + ${30 * UsMin} AS e2
         |  FROM e WHERE event_type = 'error' AND user_id % 50 = 0),
         |c AS (SELECT tus FROM e WHERE event_type = 'click')
         |SELECT iv.event_id, iv.b AS ts, count(*) AS n_clicks
         |FROM iv JOIN c ON c.tus >= iv.b AND c.tus < iv.e2
         |GROUP BY 1, 2""".stripMargin,

    // gaps-and-islands: same window algebra as the Spark side
    "ts_interval_coalesce" ->
      s"""WITH civ AS (SELECT user_id, $EvUs AS b,
         |    $EvUs + ${6 * UsHour} AS e
         |  FROM events WHERE event_type = 'error'),
         |cp AS (SELECT user_id, b, e,
         |    max(e) OVER (PARTITION BY user_id ORDER BY b, e
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
         |  FROM civ),
         |ci AS (SELECT user_id, b, e,
         |    sum(CASE WHEN pme IS NULL OR b > pme THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY user_id ORDER BY b, e
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
         |  FROM cp)
         |SELECT user_id, min(b) AS begin_ts, max(e) AS end_ts,
         |  count(*) AS n_merged
         |FROM ci GROUP BY user_id, isl""".stripMargin,

    // interval complement: the coalesce chain verbatim + a lead
    // window over the islands
    "ts_interval_gaps" ->
      s"""WITH civ AS (SELECT user_id, $EvUs AS b,
         |    $EvUs + ${6 * UsHour} AS e
         |  FROM events WHERE event_type = 'error'),
         |cp AS (SELECT user_id, b, e,
         |    max(e) OVER (PARTITION BY user_id ORDER BY b, e
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
         |  FROM civ),
         |ci AS (SELECT user_id, b, e,
         |    sum(CASE WHEN pme IS NULL OR b > pme THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY user_id ORDER BY b, e
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
         |  FROM cp),
         |cisl AS (SELECT user_id, min(b) AS begin_ts, max(e) AS end_ts
         |  FROM ci GROUP BY user_id, isl),
         |cg AS (SELECT user_id, end_ts,
         |    lead(begin_ts) OVER (PARTITION BY user_id ORDER BY begin_ts)
         |      AS nb
         |  FROM cisl)
         |SELECT user_id, end_ts AS gap_begin, nb AS gap_end,
         |  nb - end_ts AS gap_dur
         |FROM cg WHERE nb IS NOT NULL AND nb > end_ts""".stripMargin,

    // DFT power at k = 1..6 over the daily click grid; cos/sin
    // round-6, v·c snapped to µ-units before the exact BIGINT sum —
    // the identical association order as Trend.periodogram
    "ts_periodogram" ->
      s"""WITH pg AS (SELECT user_id, $EvUs // 86400000000 AS i,
         |    round(avg(value), 6) AS v
         |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
         |px AS (SELECT user_id, v,
         |    row_number() OVER (PARTITION BY user_id ORDER BY i) - 1 AS idx,
         |    count(*) OVER (PARTITION BY user_id) AS n
         |  FROM pg),
         |pt AS (SELECT user_id, kk.k AS k, n, v,
         |    round(cos(2.0 * pi() * CAST(kk.k AS DOUBLE)
         |      * CAST(idx AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS c,
         |    round(sin(2.0 * pi() * CAST(kk.k AS DOUBLE)
         |      * CAST(idx AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS sn
         |  FROM px CROSS JOIN (SELECT unnest([1, 2, 3, 4, 5, 6]) AS k) kk),
         |ps AS (SELECT user_id, k, n,
         |    CAST(sum(CAST(round(v * c * 1000000) AS BIGINT)) AS DOUBLE)
         |      / 1000000.0 AS sc,
         |    CAST(sum(CAST(round(v * sn * 1000000) AS BIGINT)) AS DOUBLE)
         |      / 1000000.0 AS ss
         |  FROM pt GROUP BY 1, 2, 3)
         |SELECT user_id, k, n AS n_samples,
         |  round((sc * sc + ss * ss) / CAST(n AS DOUBLE)
         |    / CAST(n AS DOUBLE), 6) AS power
         |FROM ps""".stripMargin,

    // bucket means are exact decimal sums, slopes divide identical
    // doubles by integer day gaps, medians are linear-interpolation
    // percentiles — the same parity chain as ts_lttb / ts_agg_stats
    "ts_theil_sen" ->
      s"""WITH tsg AS (SELECT user_id,
         |    ($EvUs - 1704067200000000) // 86400000000 AS d,
         |    CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / count(*)
         |      AS v
         |  FROM events GROUP BY 1, 2),
         |tsp AS (SELECT a.user_id,
         |    (b.v - a.v) / CAST(b.d - a.d AS DOUBLE) AS sl
         |  FROM tsg a JOIN tsg b ON a.user_id = b.user_id AND a.d < b.d),
         |tss AS (SELECT user_id, count(*) AS n_pairs,
         |    round(quantile_cont(sl, 0.5), 6) AS slope_per_day
         |  FROM tsp GROUP BY 1)
         |SELECT g.user_id, count(*) AS n_days, s.n_pairs,
         |  s.slope_per_day,
         |  round(quantile_cont(g.v - s.slope_per_day * CAST(g.d AS DOUBLE),
         |    0.5), 6) AS intercept
         |FROM tsg g JOIN tss s ON g.user_id = s.user_id
         |GROUP BY 1, 3, 4""".stripMargin,

    // correlogram: same pair construction (one lag window per L,
    // stacked), same degenerate-group exclusion, corr round-6 — the
    // ts_autocorr / ts_cross_corr parity chain
    "ts_acf" ->
      s"""WITH ag AS (SELECT user_id, value,
         |    ${(1 to 7).map(l => s"lag(value, $l) OVER w AS p$l")
              .mkString(",\n    ")}
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY $EvUs, value)),
         |au AS (
         |  ${(1 to 7).map(l =>
                s"SELECT user_id, $l AS lag, value AS v, p$l AS prev FROM ag")
              .mkString("\n  UNION ALL\n  ")}),
         |af AS (SELECT * FROM au WHERE prev IS NOT NULL),
         |ad AS (SELECT user_id, lag, v, prev,
         |    count(*) OVER wg AS n, stddev_samp(v) OVER wg AS sx,
         |    stddev_samp(prev) OVER wg AS sy
         |  FROM af WINDOW wg AS (PARTITION BY user_id, lag))
         |SELECT user_id, lag, count(*) AS n_pairs,
         |  round(corr(v, prev), 6) AS acf
         |FROM ad WHERE n >= 2 AND sx > 0 AND sy > 0
         |GROUP BY 1, 2""".stripMargin,

    // changepoint: every mean is an exact µ-unit FLOOR (pmod trick —
    // DuckDB's // truncates toward zero on negatives), the gain is one
    // fixed IEEE formula over exact BIGINT prefix sums, and the argmax
    // tie-breaks on the earlier day — bit-parity with Trend.changepoint
    // coverage: exact span//cadence floor (positive spans — plain //)
    "ts_coverage" ->
      s"""SELECT user_id, min($EvUs) AS first_ts, max($EvUs) AS last_ts,
         |  count(*) AS n_events,
         |  (max($EvUs) - min($EvUs)) // ${5 * UsMin} + 1 AS expected,
         |  round(CAST(count(*) AS DOUBLE)
         |    / ((max($EvUs) - min($EvUs)) // ${5 * UsMin} + 1), 6)
         |    AS coverage
         |FROM events GROUP BY user_id""".stripMargin,

    // benford: digit from the µ-int's decimal string, expected from
    // the same 6dp probability literals, terms µ-snapped, µ-int verdict
    "ts_benford" -> {
      val probs = "[0.301030, 0.176091, 0.124939, 0.096910, 0.079181, " +
        "0.066947, 0.057992, 0.051153, 0.045757]"
      s"""WITH bf0 AS (SELECT event_type,
         |    CAST(floor(value * 1e6) AS BIGINT) AS v6
         |  FROM events WHERE value >= 1e-6),
         |bf1 AS (SELECT event_type,
         |    CAST(substr(CAST(v6 AS VARCHAR), 1, 1) AS INTEGER) AS d,
         |    count(*) AS obs
         |  FROM bf0 GROUP BY 1, 2),
         |bft AS (SELECT event_type, CAST(sum(obs) AS BIGINT) AS n
         |  FROM bf1 GROUP BY 1),
         |bfg AS (SELECT t.event_type, t.n, dd.d
         |  FROM bft t, (SELECT unnest(range(1, 10)) AS d) dd),
         |bfj AS (SELECT g.event_type, g.n, g.d,
         |    CAST(coalesce(b.obs, 0) AS BIGINT) AS obs,
         |    ($probs)[g.d] AS p
         |  FROM bfg g LEFT JOIN bf1 b
         |    ON b.event_type = g.event_type AND b.d = g.d),
         |bfc AS (SELECT *, CAST(floor((obs - n * p) * (obs - n * p)
         |    / (n * p) * 1e6) AS BIGINT) AS t6 FROM bfj),
         |bfs AS (SELECT event_type, CAST(sum(t6) AS BIGINT) AS s6
         |  FROM bfc GROUP BY 1)
         |SELECT c.event_type, c.d AS digit, c.obs,
         |  round(c.n * c.p, 6) AS expected,
         |  CAST(s.s6 AS DOUBLE) / 1e6 AS chi2,
         |  s.s6 <= 15507313 AS benford_ok
         |FROM bfc c JOIN bfs s ON s.event_type = c.event_type""".stripMargin
    },

    // runs: lag-flip island numbering, per-run extent agg, then the
    // longest-run argmax replayed via rank (len desc, start asc)
    "ts_runs" ->
      s"""WITH r0 AS (SELECT user_id, event_id, $EvUs AS tus, value,
         |    value > 60.0 AS f FROM events),
         |r1 AS (SELECT *, CASE WHEN lag(f) OVER w IS NULL
         |      OR lag(f) OVER w <> f THEN 1 ELSE 0 END AS chg
         |  FROM r0 WINDOW w AS (PARTITION BY user_id
         |    ORDER BY tus, value, event_id)),
         |r2 AS (SELECT *, sum(chg) OVER (PARTITION BY user_id
         |    ORDER BY tus, value, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
         |  FROM r1),
         |r3 AS (SELECT user_id, grp, count(*) AS len, min(tus) AS s,
         |    max(tus) AS e
         |  FROM r2 WHERE f GROUP BY user_id, grp),
         |r4 AS (SELECT *, row_number() OVER (PARTITION BY user_id
         |    ORDER BY len DESC, s ASC) AS rk FROM r3),
         |r5 AS (SELECT user_id, count(*) AS n_runs, max(len) AS max_len
         |  FROM r3 GROUP BY user_id)
         |SELECT a.user_id, a.n_runs, a.max_len, b.s AS longest_start,
         |  b.e - b.s AS longest_dur
         |FROM r5 a JOIN r4 b ON a.user_id = b.user_id AND b.rk = 1"""
        .stripMargin,

    // hampel: the same µ-integer window machinery — list() over the
    // centered frame, lower-median subscripts, cross-multiplied flag
    "ts_hampel" ->
      s"""WITH h0 AS (SELECT user_id, $EvUs AS tus, value,
         |    CAST(floor(value * 1e6) AS BIGINT) AS v6 FROM events),
         |hw AS (SELECT user_id, tus, value, v6,
         |    list_sort(list(v6) OVER (PARTITION BY user_id
         |      ORDER BY tus, value
         |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)) AS lst
         |  FROM h0),
         |hm AS (SELECT *, lst[(len(lst) + 1) // 2] AS med FROM hw),
         |hd AS (SELECT *, list_sort(list_transform(lst,
         |    y -> abs(y - med)))[(len(lst) + 1) // 2] AS mad FROM hm)
         |SELECT user_id, tus AS ts, value,
         |  CAST(med AS DOUBLE) / 1e6 AS med,
         |  CAST(mad AS DOUBLE) / 1e6 AS mad,
         |  abs(v6 - med) * 10000 > ${3 * 14826} * mad AS is_outlier,
         |  CASE WHEN abs(v6 - med) * 10000 > ${3 * 14826} * mad
         |       THEN CAST(med AS DOUBLE) / 1e6 ELSE value END AS repaired
         |FROM hd""".stripMargin,

    // banded DTW: the identical BIGINT DP replayed as a recursive CTE
    // over template rows — each iteration folds one DP row left-to-
    // right via list_reduce (seeded by its first element [INF], the
    // j=0 boundary; acc[-1] supplies dp[i][j-1]); out-of-band cells
    // pin to INF = 1e15; grid means are the exact µ-floor convention.
    // wsc mirrors the span gate: above 366 day-buckets the grid
    // coarsens by scale = (maxD-minD)//366 + 1 on BOTH engines, so a
    // multi-year span cannot make the per-key DP quadratic
    "ts_dtw" ->
      s"""WITH RECURSIVE
         |wsc AS (SELECT (max(dd) - min(dd)) // 366 + 1 AS s FROM
         |  (SELECT ($EvUs - 1704067200000000) // 86400000000 AS dd
         |   FROM events)),
         |wg AS (SELECT user_id,
         |    ($EvUs - 1704067200000000)
         |      // (86400000000 * (SELECT s FROM wsc)) AS d,
         |    sum(CAST(floor(value * 1e6) AS BIGINT)) AS s6, count(*) AS c
         |  FROM events GROUP BY 1, 2),
         |wv AS (SELECT user_id, d,
         |    CAST((s6 - ((s6 % c) + c) % c) // c AS BIGINT) AS v
         |  FROM wg),
         |wk AS (SELECT user_id, list(v ORDER BY d) AS b FROM wv
         |  GROUP BY user_id),
         |wtg AS (SELECT ($EvUs - 1704067200000000)
         |      // (86400000000 * (SELECT s FROM wsc)) AS d,
         |    sum(CAST(floor(value * 1e6) AS BIGINT)) AS s6, count(*) AS c
         |  FROM events GROUP BY 1),
         |wtv AS (SELECT d,
         |    CAST((s6 - ((s6 % c) + c) % c) // c AS BIGINT) AS v FROM wtg),
         |wt AS (SELECT list(v ORDER BY d) AS a FROM wtv),
         |wd AS (SELECT k.user_id, k.b, len(k.b) AS m,
         |    (SELECT len(a) FROM wt) AS n,
         |    greatest(7, abs((SELECT len(a) FROM wt) - len(k.b))) AS w
         |  FROM wk k),
         |dp AS (
         |  SELECT user_id, b, m, n, w, 0 AS i,
         |    list_prepend(CAST(0 AS BIGINT), list_transform(range(1, m + 1),
         |      j -> CAST(1000000000000000 AS BIGINT))) AS row
         |  FROM wd
         |  UNION ALL
         |  SELECT p.user_id, p.b, p.m, p.n, p.w, p.i + 1,
         |    list_reduce(
         |      list_prepend([CAST(1000000000000000 AS BIGINT)],
         |        list_transform(range(1, p.m + 1),
         |          j -> [p.b[j], CAST(j AS BIGINT)])),
         |      (acc, x) -> list_append(acc,
         |        CASE WHEN abs((p.i + 1) - x[2]) > p.w
         |             THEN CAST(1000000000000000 AS BIGINT)
         |             ELSE least(p.row[x[2] + 1], p.row[x[2]], acc[-1])
         |               + abs(t.a[p.i + 1] - x[1]) END)) AS row
         |  FROM dp p, wt t WHERE p.i < p.n)
         |SELECT user_id, n AS n_template, m AS n_series,
         |  row[m + 1] AS dtw6,
         |  round(CAST(row[m + 1] AS DOUBLE) / 1e6, 6) AS dtw,
         |  CAST((row[m + 1] - ((row[m + 1] % (n + m)) + (n + m)) % (n + m))
         |      // (n + m) AS DOUBLE) / 1000000.0 AS dtw_step
         |FROM dp WHERE i = n""".stripMargin,

    "ts_changepoint" ->
      s"""WITH cg AS (SELECT user_id,
         |    ($EvUs - 1704067200000000) // 86400000000 AS d,
         |    sum(CAST(floor(value * 1e6) AS BIGINT)) AS s6,
         |    count(*) AS c
         |  FROM events GROUP BY 1, 2),
         |cv AS (SELECT user_id, d,
         |    (s6 - ((s6 % c) + c) % c) // c AS v FROM cg),
         |cs AS (SELECT user_id, d, v,
         |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
         |      AS BIGINT) AS i,
         |    sum(v) OVER (PARTITION BY user_id ORDER BY d
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pl,
         |    count(*) OVER (PARTITION BY user_id) AS n,
         |    sum(v) OVER (PARTITION BY user_id) AS tot
         |  FROM cv),
         |cgain AS (SELECT user_id, d, i, pl, n, tot,
         |    round(CAST(pl * (n - i) - (tot - pl) * i AS DOUBLE)
         |      * CAST(pl * (n - i) - (tot - pl) * i AS DOUBLE)
         |      / CAST(i * (n - i) * n AS DOUBLE) / 1e12, 6) AS gain
         |  FROM cs WHERE i < n),
         |cpick AS (SELECT *, row_number() OVER (PARTITION BY user_id
         |    ORDER BY gain DESC, d) AS rk FROM cgain)
         |SELECT user_id, n AS n_days, d AS cp_day,
         |  CAST((pl - ((pl % i) + i) % i) // i AS DOUBLE) / 1000000.0
         |    AS mean_before,
         |  CAST(((tot - pl) - (((tot - pl) % (n - i)) + (n - i))
         |      % (n - i)) // (n - i) AS DOUBLE) / 1000000.0
         |    AS mean_after,
         |  gain
         |FROM cpick WHERE rk = 1""".stripMargin,

    // classical decomposition: trend/seasonal/normalization means are
    // all exact µ-unit integer FLOORS (pmod trick), so value = trend +
    // seasonal + resid holds bit-for-bit on both engines
    "ts_stl" ->
      s"""WITH $sqlStlCtes
         |SELECT user_id, d AS day,
         |  CAST(v AS DOUBLE) / 1000000.0 AS value,
         |  CAST(tr AS DOUBLE) / 1000000.0 AS trend,
         |  CAST(raw - m AS DOUBLE) / 1000000.0 AS seasonal,
         |  CAST(v - tr - (raw - m) AS DOUBLE) / 1000000.0 AS resid
         |FROM dm""".stripMargin,

    // residual anomaly screen: µ-integer residuals off the shared
    // decomposition chain, per-key mean an exact µ-floor quotient and
    // sigma from exact HUGEINT sums in one fixed IEEE formula (the
    // ts_sax stats convention) — flag set engine-exact
    "ts_stl_outliers" ->
      s"""WITH $sqlStlCtes,
         |sor AS (SELECT user_id, d, v, v - tr - (raw - m) AS r6
         |  FROM dm WHERE tr IS NOT NULL),
         |sos AS (SELECT user_id, sum(CAST(r6 AS HUGEINT)) AS s,
         |    sum(CAST(r6 AS HUGEINT) * r6) AS ssq, count(*) AS n
         |  FROM sor GROUP BY 1),
         |som AS (SELECT user_id,
         |    CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0 AS mean,
         |    sqrt(greatest(CAST(ssq AS DOUBLE) / CAST(n AS DOUBLE)
         |      - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
         |        * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)), 0.0))
         |      / 1000000.0 AS sigma
         |  FROM sos)
         |SELECT r.user_id, r.d AS day,
         |  CAST(r.v AS DOUBLE) / 1000000.0 AS value,
         |  CAST(r.r6 AS DOUBLE) / 1000000.0 AS resid,
         |  round((CAST(r.r6 AS DOUBLE) / 1000000.0 - mean) / sigma, 6) AS z
         |FROM sor r JOIN som USING (user_id)
         |WHERE sigma > 0.0
         |  AND abs((CAST(r.r6 AS DOUBLE) / 1000000.0 - mean) / sigma)
         |    > 2.5""".stripMargin,

    // strength: variances from exact HUGEINT sums over the shared
    // decomposition (S+R = v−tr, T+R = v−seas are exact µ-integers),
    // one fixed IEEE formula, zero-variance denominators -> null
    "ts_seasonal_strength" ->
      s"""WITH $sqlStlCtes,
         |sg0 AS (SELECT user_id,
         |    v - tr - (raw - m) AS r6, v - tr AS sr6, v - (raw - m) AS tr6
         |  FROM dm WHERE tr IS NOT NULL),
         |sg1 AS (SELECT user_id, count(*) AS n_days,
         |    sum(CAST(r6 AS HUGEINT)) AS sr,
         |    sum(CAST(r6 AS HUGEINT) * r6) AS qr,
         |    sum(CAST(sr6 AS HUGEINT)) AS ss,
         |    sum(CAST(sr6 AS HUGEINT) * sr6) AS qs,
         |    sum(CAST(tr6 AS HUGEINT)) AS st,
         |    sum(CAST(tr6 AS HUGEINT) * tr6) AS qt
         |  FROM sg0 GROUP BY 1),
         |sg2 AS (SELECT user_id, n_days,
         |    CAST(qr AS DOUBLE) / CAST(n_days AS DOUBLE)
         |      - (CAST(sr AS DOUBLE) / CAST(n_days AS DOUBLE))
         |        * (CAST(sr AS DOUBLE) / CAST(n_days AS DOUBLE)) AS vr,
         |    CAST(qs AS DOUBLE) / CAST(n_days AS DOUBLE)
         |      - (CAST(ss AS DOUBLE) / CAST(n_days AS DOUBLE))
         |        * (CAST(ss AS DOUBLE) / CAST(n_days AS DOUBLE)) AS vs,
         |    CAST(qt AS DOUBLE) / CAST(n_days AS DOUBLE)
         |      - (CAST(st AS DOUBLE) / CAST(n_days AS DOUBLE))
         |        * (CAST(st AS DOUBLE) / CAST(n_days AS DOUBLE)) AS vt
         |  FROM sg1)
         |SELECT user_id, n_days,
         |  CASE WHEN vs > 0.0
         |    THEN round(greatest(0.0, 1.0 - vr / vs), 6) END
         |    AS strength_seasonal,
         |  CASE WHEN vt > 0.0
         |    THEN round(greatest(0.0, 1.0 - vr / vt), 6) END
         |    AS strength_trend
         |FROM sg2""".stripMargin,

    // SAX: PAA means are exact µ-unit floors; per-key mean/σ come from
    // exact HUGEINT sums through ONE fixed IEEE formula (matching the
    // Spark decimal casts), so z and the symbol are bit-deterministic
    "ts_sax" ->
      s"""WITH xg AS (SELECT user_id,
         |    ($EvUs - 1704067200000000) // 86400000000 AS d,
         |    sum(CAST(floor(value * 1e6) AS BIGINT)) AS s6,
         |    count(*) AS c
         |  FROM events GROUP BY 1, 2),
         |xv AS (SELECT user_id, d,
         |    (s6 - ((s6 % c) + c) % c) // c AS v FROM xg),
         |xs AS (SELECT user_id, sum(CAST(v AS HUGEINT)) AS s,
         |    sum(CAST(v AS HUGEINT) * v) AS ssq, count(*) AS n
         |  FROM xv GROUP BY 1),
         |xm AS (SELECT user_id,
         |    CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0 AS mean,
         |    sqrt(greatest(CAST(ssq AS DOUBLE) / CAST(n AS DOUBLE)
         |      - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
         |        * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)), 0.0))
         |      / 1000000.0 AS sigma
         |  FROM xs),
         |xp AS (SELECT user_id, d // 7 AS w, sum(v) AS ps,
         |    count(*) AS n_days
         |  FROM xv GROUP BY 1, 2),
         |xz AS (SELECT p.user_id, p.w, p.n_days,
         |    CAST((ps - ((ps % n_days) + n_days) % n_days) // n_days
         |      AS DOUBLE) / 1000000.0 AS paa,
         |    m.mean, m.sigma
         |  FROM xp p JOIN xm m ON p.user_id = m.user_id),
         |xq AS (SELECT user_id, w, n_days, paa,
         |    CASE WHEN sigma = 0.0 THEN 0.0
         |      ELSE (paa - mean) / sigma END AS z
         |  FROM xz)
         |SELECT user_id, w, n_days, paa, round(z, 6) AS z,
         |  CASE WHEN z < -0.6745 THEN 'a' WHEN z < 0.0 THEN 'b'
         |    WHEN z < 0.6745 THEN 'c' ELSE 'd' END AS symbol
         |FROM xq""".stripMargin,

    // PSI terms are non-negative (same-sign factors), each ln snapped
    // to integer micro-nats before the per-key sum — the doc_dsir idiom
    "ts_drift_psi" ->
      s"""WITH pd AS (SELECT event_type,
         |    CAST(least(greatest(floor(value / 25), 0), 19) AS INTEGER)
         |      AS b,
         |    CASE WHEN $EvUs < 1705276800000000 THEN 1 ELSE 0 END AS ina
         |  FROM events),
         |pc AS (SELECT event_type, b, sum(ina) AS ca, sum(1 - ina) AS cb
         |  FROM pd GROUP BY 1, 2),
         |pw AS (SELECT event_type, ca, cb,
         |    sum(ca) OVER (PARTITION BY event_type) AS na,
         |    sum(cb) OVER (PARTITION BY event_type) AS nb
         |  FROM pc),
         |pt AS (SELECT event_type, na, nb,
         |    (CAST(ca AS DOUBLE) + 0.5) / (CAST(na AS DOUBLE) + 10.0)
         |      AS pa,
         |    (CAST(cb AS DOUBLE) + 0.5) / (CAST(nb AS DOUBLE) + 10.0)
         |      AS pb
         |  FROM pw),
         |pu AS (SELECT event_type, na, nb,
         |    CAST(round((pa - pb)
         |      * CAST(CAST(round(ln(pa) * 1000000) AS BIGINT)
         |        - CAST(round(ln(pb) * 1000000) AS BIGINT) AS DOUBLE))
         |      AS BIGINT) AS cu
         |  FROM pt),
         |pz AS (SELECT event_type, CAST(max(na) AS BIGINT) AS n_a,
         |    CAST(max(nb) AS BIGINT) AS n_b,
         |    count(*) AS nobs, sum(cu) AS scu
         |  FROM pu GROUP BY 1),
         |pe AS (SELECT *,
         |    0.5 / (CAST(n_a AS DOUBLE) + 10.0) AS pa0,
         |    0.5 / (CAST(n_b AS DOUBLE) + 10.0) AS pb0
         |  FROM pz)
         |SELECT event_type, n_a, n_b,
         |  round(CAST(scu + (20 - nobs)
         |      * CAST(round((pa0 - pb0)
         |        * CAST(CAST(round(ln(pa0) * 1000000) AS BIGINT)
         |          - CAST(round(ln(pb0) * 1000000) AS BIGINT) AS DOUBLE))
         |        AS BIGINT)
         |    AS DOUBLE) / 1000000.0, 6) AS psi
         |FROM pe""".stripMargin,

    // ECDF gaps divide identical doubles; peers-included RANGE frames
    // make ties contribute identically; only the statistic is rounded
    "ts_drift_ks" ->
      s"""WITH kd AS (SELECT event_type, value,
         |    CASE WHEN $EvUs < 1705276800000000 THEN 1 ELSE 0 END AS ina
         |  FROM events),
         |kc AS (SELECT event_type,
         |    sum(ina) OVER wo AS ca, sum(1 - ina) OVER wo AS cb,
         |    sum(ina) OVER wk AS na, sum(1 - ina) OVER wk AS nb
         |  FROM kd WINDOW
         |    wo AS (PARTITION BY event_type ORDER BY value
         |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |    wk AS (PARTITION BY event_type)),
         |ka AS (SELECT event_type, CAST(max(na) AS BIGINT) AS n_a,
         |    CAST(max(nb) AS BIGINT) AS n_b,
         |    round(max(abs(CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)
         |      - CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))), 6) AS ks_d
         |  FROM kc GROUP BY 1),
         |kf AS (SELECT event_type, n_a, n_b, ks_d,
         |    round(1.358 * sqrt((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
         |      / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))), 6)
         |      AS ks_crit95
         |  FROM ka)
         |SELECT event_type, n_a, n_b, ks_d, ks_crit95,
         |  ks_d > ks_crit95 AS drifted
         |FROM kf""".stripMargin,

    // each 2xC cell snaps to integer micro-units before the per-key
    // sum; empty-margin cells are defined 0 (not NaN) on both engines
    "ts_drift_chi2" ->
      s"""WITH xd AS (SELECT user_id, event_type,
         |    CASE WHEN $EvUs < 1705276800000000 THEN 1 ELSE 0 END AS ina
         |  FROM events),
         |xc AS (SELECT user_id, event_type, sum(ina) AS ca,
         |    sum(1 - ina) AS cb
         |  FROM xd GROUP BY 1, 2),
         |xw AS (SELECT user_id, ca, cb,
         |    sum(ca) OVER (PARTITION BY user_id) AS na,
         |    sum(cb) OVER (PARTITION BY user_id) AS nb
         |  FROM xc),
         |xe AS (SELECT user_id, na, nb,
         |    CAST(na AS DOUBLE) * CAST(ca + cb AS DOUBLE)
         |      / CAST(na + nb AS DOUBLE) AS ea,
         |    CAST(nb AS DOUBLE) * CAST(ca + cb AS DOUBLE)
         |      / CAST(na + nb AS DOUBLE) AS eb,
         |    ca, cb
         |  FROM xw),
         |xu AS (SELECT user_id, na, nb,
         |    CAST(round(((CASE WHEN ea = 0.0 THEN 0.0
         |        ELSE (CAST(ca AS DOUBLE) - ea) * (CAST(ca AS DOUBLE) - ea)
         |          / ea END)
         |      + (CASE WHEN eb = 0.0 THEN 0.0
         |        ELSE (CAST(cb AS DOUBLE) - eb) * (CAST(cb AS DOUBLE) - eb)
         |          / eb END)) * 1000000.0) AS BIGINT) AS cu
         |  FROM xe),
         |xa AS (SELECT user_id, CAST(max(na) AS BIGINT) AS n_a,
         |    CAST(max(nb) AS BIGINT) AS n_b,
         |    count(*) - 1 AS dof,
         |    round(CAST(sum(cu) AS DOUBLE) / 1000000.0, 6) AS chi2
         |  FROM xu GROUP BY 1),
         |xt AS (SELECT *, 1.0 - 2.0 / (9.0 * CAST(dof AS DOUBLE))
         |    + ${Trend.Chi2Z95} * sqrt(2.0 / (9.0 * CAST(dof AS DOUBLE)))
         |    AS wht
         |  FROM xa),
         |xk AS (SELECT user_id, n_a, n_b, dof, chi2,
         |    CASE WHEN dof <= 0 THEN 0.0
         |      WHEN dof = 1 THEN 3.841 WHEN dof = 2 THEN 5.991
         |      WHEN dof = 3 THEN 7.815 WHEN dof = 4 THEN 9.488
         |      WHEN dof = 5 THEN 11.07 WHEN dof = 6 THEN 12.592
         |      WHEN dof = 7 THEN 14.067 WHEN dof = 8 THEN 15.507
         |      WHEN dof = 9 THEN 16.919 WHEN dof = 10 THEN 18.307
         |      ELSE round(CAST(dof AS DOUBLE) * wht * wht * wht, 3)
         |    END AS chi2_crit95
         |  FROM xt)
         |SELECT user_id, n_a, n_b, dof, chi2, chi2_crit95,
         |  dof >= 1 AND chi2 > chi2_crit95 AS drifted
         |FROM xk""".stripMargin,

    // bucket-of-begin .. bucket-of-end inclusive, floor division —
    // mirrors TimeIndex.indexList
    "ts_index_list" ->
      s"""WITH r AS (SELECT user_id, event_type,
         |    min($EvUs) AS b, max($EvUs) AS e FROM events GROUP BY 1, 2),
         |g AS (SELECT user_id, event_type,
         |  unnest(range(b // 86400000000, e // 86400000000 + 1)) AS i FROM r)
         |SELECT user_id, event_type, '1d-' || CAST(i AS VARCHAR) AS idx
         |FROM g""".stripMargin,

    "ts_align_linear" ->
      s"""WITH s AS (SELECT user_id, $EvUs AS tns, value FROM events
         |  WHERE event_type = 'click'),
         |p AS (SELECT user_id, tns, value,
         |  lag(tns) OVER w AS ptns, lag(value) OVER w AS pval
         |  FROM s WINDOW w AS (PARTITION BY user_id ORDER BY tns))
         |SELECT user_id, u.pos * 86400000000 AS ts,
         |  round(pval + (value - pval) *
         |    ((u.pos * 86400000000 - ptns) / CAST(tns - ptns AS DOUBLE)), 6)
         |    AS value
         |FROM p, UNNEST(CASE WHEN ptns IS NOT NULL
         |    AND tns // 86400000000 > ptns // 86400000000
         |  THEN range(ptns // 86400000000 + 1, tns // 86400000000 + 1)
         |  ELSE [] END) AS u(pos)
         |UNION ALL
         |SELECT user_id, tns AS ts, round(value, 6) AS value
         |FROM p WHERE ptns IS NULL AND tns % 86400000000 = 0""".stripMargin,

    "ts_align_hold" ->
      s"""WITH s AS (SELECT user_id, $EvUs AS tns, value FROM events
         |  WHERE event_type = 'view'),
         |p AS (SELECT user_id, tns, value,
         |  lag(tns) OVER w AS ptns, lag(value) OVER w AS pval
         |  FROM s WINDOW w AS (PARTITION BY user_id ORDER BY tns))
         |SELECT user_id, u.pos * 86400000000 AS ts,
         |  CASE WHEN tns // 86400000000 - ptns // 86400000000 > 3
         |       THEN NULL ELSE pval END AS value
         |FROM p, UNNEST(CASE WHEN ptns IS NOT NULL
         |    AND tns // 86400000000 > ptns // 86400000000
         |  THEN range(ptns // 86400000000 + 1, tns // 86400000000 + 1)
         |  ELSE [] END) AS u(pos)
         |UNION ALL
         |SELECT user_id, tns AS ts, value
         |FROM p WHERE ptns IS NULL AND tns % 86400000000 = 0""".stripMargin,

    "ts_nested_agg" ->
      s"""SELECT event_type, count(*) AS n,
         |  CAST(sum(CAST(json_extract_string(props, '$$.k') AS BIGINT))
         |    AS BIGINT) AS sum_k,
         |  round(avg(CAST(json_extract_string(props, '$$.k') AS BIGINT)), 6)
         |    AS avg_k
         |FROM events GROUP BY event_type""".stripMargin,

    // align (UNROUNDED interpolation) then rate over the aligned
    // boundary series — the oracle twin of the chained pipeline
    "ts_pipeline" ->
      s"""WITH s AS (SELECT user_id, $EvUs AS tns, value FROM events
         |  WHERE event_type = 'click'),
         |p AS (SELECT user_id, tns, value,
         |  lag(tns) OVER w AS ptns, lag(value) OVER w AS pval
         |  FROM s WINDOW w AS (PARTITION BY user_id ORDER BY tns)),
         |a AS (
         |  SELECT user_id, u.pos * 86400000000 AS ts,
         |    pval + (value - pval) *
         |      ((u.pos * 86400000000 - ptns) / CAST(tns - ptns AS DOUBLE))
         |      AS value
         |  FROM p, UNNEST(CASE WHEN ptns IS NOT NULL
         |      AND tns // 86400000000 > ptns // 86400000000
         |    THEN range(ptns // 86400000000 + 1, tns // 86400000000 + 1)
         |    ELSE [] END) AS u(pos)
         |  UNION ALL
         |  SELECT user_id, tns AS ts, value
         |  FROM p WHERE ptns IS NULL AND tns % 86400000000 = 0),
         |r AS (SELECT user_id, ts, value,
         |  lag(ts) OVER w2 AS pts, lag(value) OVER w2 AS pv
         |  FROM a WINDOW w2 AS (PARTITION BY user_id ORDER BY ts))
         |SELECT user_id, pts AS ts_begin, ts AS ts_end,
         |  round((value - pv) / (CAST(ts - pts AS DOUBLE) / 1000000.0), 6)
         |    + 0.0 AS rate
         |FROM r WHERE pts IS NOT NULL""".stripMargin,

    "ts_rate" ->
      s"""WITH s AS (SELECT user_id, $EvUs AS tns, value FROM events
         |  WHERE event_type = 'purchase'),
         |p AS (SELECT user_id, tns, value,
         |  lag(tns) OVER w AS ptns, lag(value) OVER w AS pval
         |  FROM s WINDOW w AS (PARTITION BY user_id ORDER BY tns))
         |SELECT user_id, ptns AS ts_begin, tns AS ts_end,
         |  round((value - pval) / (CAST(tns - ptns AS DOUBLE) / 1000000.0), 6)
         |    + 0.0 AS rate,
         |  round(CASE WHEN (value - pval) / (CAST(tns - ptns AS DOUBLE)
         |      / 1000000.0) < 0 THEN NULL
         |    ELSE (value - pval) / (CAST(tns - ptns AS DOUBLE) / 1000000.0)
         |    END, 6) + 0.0 AS rate_nonneg
         |FROM p WHERE ptns IS NOT NULL""".stripMargin,

    "ts_fill_zero" ->
      s"""SELECT event_id, user_id, $EvUs AS ts,
         |  CASE WHEN value < 5.0 THEN 0.0 ELSE value END AS filled
         |FROM events""".stripMargin,

    "ts_fill_pad" ->
      s"""WITH s AS (SELECT event_id, user_id, $EvUs AS tns,
         |  CASE WHEN value < 5.0 THEN NULL ELSE value END AS mv FROM events),
         |p1 AS (SELECT event_id, user_id, tns, mv,
         |  row_number() OVER (PARTITION BY user_id ORDER BY tns) AS rn FROM s),
         |p2 AS (SELECT event_id, user_id, tns, mv, rn,
         |  last_value(mv IGNORE NULLS) OVER up_to AS padded,
         |  max(CASE WHEN mv IS NOT NULL THEN rn END) OVER up_to AS last_good_rn
         |  FROM p1 WINDOW up_to AS (PARTITION BY user_id ORDER BY tns
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT event_id, user_id, tns AS ts,
         |  CASE WHEN mv IS NOT NULL THEN mv
         |       WHEN rn - coalesce(last_good_rn, 0) <= 2 THEN padded END AS filled
         |FROM p2""".stripMargin,

    "ts_fill_zero_limit" ->
      s"""WITH s AS (SELECT event_id, user_id, $EvUs AS tns,
         |  CASE WHEN value < 5.0 THEN NULL ELSE value END AS mv FROM events),
         |p1 AS (SELECT event_id, user_id, tns, mv,
         |  row_number() OVER (PARTITION BY user_id ORDER BY tns) AS rn FROM s),
         |p2 AS (SELECT event_id, user_id, tns, mv, rn,
         |  max(CASE WHEN mv IS NOT NULL THEN rn END) OVER up_to AS last_good_rn
         |  FROM p1 WINDOW up_to AS (PARTITION BY user_id ORDER BY tns
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT event_id, user_id, tns AS ts,
         |  CASE WHEN mv IS NOT NULL THEN mv
         |       WHEN rn - coalesce(last_good_rn, 0) <= 2 THEN 0.0 END AS filled
         |FROM p2""".stripMargin,

    "ts_fill_linear" ->
      s"""WITH s AS (SELECT event_id, user_id, $EvUs AS tns,
         |  CASE WHEN value < 5.0 THEN NULL ELSE value END AS mv FROM events),
         |p AS (SELECT event_id, user_id, tns, mv,
         |  last_value(mv IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY tns
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_val,
         |  last_value(CASE WHEN mv IS NOT NULL THEN tns END IGNORE NULLS)
         |    OVER (PARTITION BY user_id ORDER BY tns
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_ts,
         |  first_value(mv IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY tns
         |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_val,
         |  first_value(CASE WHEN mv IS NOT NULL THEN tns END IGNORE NULLS)
         |    OVER (PARTITION BY user_id ORDER BY tns
         |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_ts
         |  FROM s)
         |SELECT event_id, user_id, tns AS ts,
         |  round(CASE WHEN mv IS NOT NULL THEN mv
         |    WHEN prev_val IS NOT NULL AND next_val IS NOT NULL THEN
         |      prev_val + (next_val - prev_val) *
         |        ((tns - prev_ts) / CAST(next_ts - prev_ts AS DOUBLE))
         |    END, 6) AS filled
         |FROM p""".stripMargin,

    "ts_offset" ->
      s"""SELECT event_id, $EvUs AS ts, value + 2.5 AS offset_value
         |FROM events""".stripMargin,

    "ts_take" ->
      s"""SELECT user_id, ts, event_id, value FROM (
         |  SELECT user_id, $EvUs AS ts, event_id, value,
         |    row_number() OVER (PARTITION BY user_id
         |      ORDER BY $EvUs, event_id) AS rn
         |  FROM events) WHERE rn <= 5""".stripMargin,

    "ts_slice" ->
      s"""SELECT user_id, ts, event_id, value FROM (
         |  SELECT user_id, $EvUs AS ts, event_id, value,
         |    row_number() OVER (PARTITION BY user_id
         |      ORDER BY $EvUs, event_id) AS rn
         |  FROM events) WHERE rn > 3 AND rn <= 8""".stripMargin,

    "ts_select" ->
      s"SELECT user_id, $EvUs AS ts, value AS reading FROM events",

    "ts_map" ->
      s"""SELECT event_id, $EvUs AS ts,
         |  CAST(props->>'k' AS BIGINT) AS k,
         |  value * CAST(props->>'k' AS BIGINT) AS scaled
         |FROM events""".stripMargin,

    "ts_filter" ->
      s"""SELECT event_id, user_id, $EvUs AS ts, value FROM events
         |WHERE event_type = 'error' AND value > 10
         |  AND value IS NOT NULL AND NOT isnan(value)""".stripMargin,

    "ts_collapse" ->
      """SELECT l_orderkey, l_linenumber,
        |  l_quantity + l_extendedprice AS combined
        |FROM lineitem""".stripMargin,

    "ts_dedup" ->
      s"""SELECT user_id, event_type, event_id, $EvUs AS ts, value FROM (
         |  SELECT user_id, event_type, event_id, ts, value,
         |    row_number() OVER (PARTITION BY user_id, event_type
         |      ORDER BY event_id DESC) AS rn
         |  FROM events) WHERE rn = 1""".stripMargin,

    "ts_sort" ->
      s"""SELECT user_id, $EvUs AS ts,
         |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY $EvUs)
         |    AS INTEGER) AS pos
         |FROM events""".stripMargin,

    "ts_sort_by_field" ->
      s"""SELECT user_id, $EvUs AS ts, event_id, value,
         |  CAST(row_number() OVER (PARTITION BY user_id
         |    ORDER BY value, $EvUs, event_id) AS INTEGER) AS pos
         |FROM events""".stripMargin,

    "ts_at_time" ->
      s"""SELECT user_id, ts, event_id, value FROM (
         |  SELECT user_id, $EvUs AS ts, event_id, value,
         |    row_number() OVER (PARTITION BY user_id
         |      ORDER BY $EvUs DESC, event_id DESC) AS rn
         |  FROM events WHERE $EvUs <= 1704844800000000)
         |WHERE rn = 1""".stripMargin,

    // exact-key lookup at the corpus's earliest ts, then the
    // event_list_as_map grouping (numeric-ordered id list)
    "ts_at_key" ->
      s"""WITH k AS (SELECT min($EvUs) AS key FROM events),
         |h AS (SELECT user_id, $EvUs AS ts, event_id, value
         |  FROM events, k WHERE $EvUs = k.key)
         |SELECT user_id, ts, count(*) AS n,
         |  string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY event_id)
         |    AS event_ids,
         |  CAST(sum(CAST(value AS $Sum6)) AS DOUBLE) AS sum_value
         |FROM h GROUP BY 1, 2""".stripMargin,

    "ts_rename" ->
      s"""SELECT event_id, $EvUs AS ts, event_type AS kind, value AS reading
         |FROM events""".stripMargin,

    "ts_crop" ->
      s"""SELECT event_type, count(*) AS n, CAST(sum(CAST(value AS $Sum6)) AS DOUBLE) AS sum_value
         |FROM events
         |WHERE $EvUs >= 1704672000000000 AND $EvUs <= 1705276800000000
         |GROUP BY event_type""".stripMargin,

    "ts_merge" ->
      s"""WITH a AS (SELECT user_id,
         |    '1h-' || CAST($EvUs // 3600000000 AS VARCHAR) AS idx,
         |    CAST(sum(CAST(value AS $Sum6)) AS DOUBLE) AS clicks
         |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
         |b AS (SELECT user_id,
         |    '1h-' || CAST($EvUs // 3600000000 AS VARCHAR) AS idx,
         |    CAST(sum(CAST(value AS $Sum6)) AS DOUBLE) AS views
         |  FROM events WHERE event_type = 'view' GROUP BY 1, 2)
         |SELECT user_id, idx, clicks, views
         |FROM a FULL JOIN b USING (user_id, idx)""".stripMargin,

    "ts_combine_sum" ->
      s"""SELECT user_id,
         |  '1h-' || CAST($EvUs // 3600000000 AS VARCHAR) AS idx,
         |  CAST(sum(CAST(value AS $Sum6)) AS DOUBLE) AS total
         |FROM events WHERE event_type IN ('click', 'view')
         |GROUP BY 1, 2""".stripMargin,

    "ts_combine_avg" ->
      s"""SELECT user_id,
         |  '1h-' || CAST($EvUs // 3600000000 AS VARCHAR) AS idx,
         |  round(avg(value),6) AS avg_value
         |FROM events WHERE event_type IN ('purchase', 'error')
         |GROUP BY 1, 2""".stripMargin,

    "ts_asof_lookup" ->
      s"""SELECT l.user_id, epoch_us(l.ts) AS ts, l.event_id, l.value,
         |  r.value AS asof_value
         |FROM (SELECT * FROM events WHERE event_type = 'purchase') l
         |ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
         |  WHERE event_type = 'click') r
         |  ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin,

    // tolerance: DuckDB's native ASOF finds the latest <= match, the
    // CASE nulls it when older than the 1h staleness bound
    "ts_asof_tolerance" ->
      s"""SELECT l.user_id, epoch_us(l.ts) AS ts, l.event_id, l.value,
         |  CASE WHEN epoch_us(l.ts) - epoch_us(r.ts) <= 3600000000
         |    THEN r.value END AS asof_value,
         |  CASE WHEN epoch_us(l.ts) - epoch_us(r.ts) <= 3600000000
         |    THEN epoch_us(r.ts) END AS asof_ts
         |FROM (SELECT * FROM events WHERE event_type = 'purchase') l
         |ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
         |  WHERE event_type = 'click') r
         |  ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin,

    // forward as-of: DuckDB's ASOF with the inequality flipped picks
    // the EARLIEST right row >= l.ts — mirrors Combine.asofNext
    "ts_asof_next" ->
      s"""SELECT l.user_id, epoch_us(l.ts) AS ts, l.event_id, l.value,
         |  r.value AS next_value
         |FROM (SELECT * FROM events WHERE event_type = 'purchase') l
         |ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
         |  WHERE event_type = 'click') r
         |  ON l.user_id = r.user_id AND l.ts <= r.ts""".stripMargin,

    "ts_timerange" ->
      s"""WITH r AS (SELECT user_id, event_type,
         |  min($EvUs) AS b, max($EvUs) AS e
         |  FROM events GROUP BY user_id, event_type)
         |SELECT user_id, event_type, b, e, (e - b) // 1000 AS duration_ms,
         |  ((b <= 1704844800000000 AND e >= 1704844800000000)
         |      AND NOT (b <= 1705708800000000 AND e >= 1705708800000000))
         |   OR ((b <= 1705708800000000 AND e >= 1705708800000000)
         |      AND NOT (b <= 1704844800000000 AND e >= 1704844800000000))
         |    AS overlaps_q,
         |  (b <= 1704844800000000 AND e >= 1705708800000000) AS contains_q,
         |  CASE WHEN e < 1704844800000000 OR b > 1705708800000000 THEN NULL
         |    ELSE least(e, 1705708800000000) - greatest(b, 1704844800000000)
         |    END AS isect_us
         |FROM r""".stripMargin,

    "ts_timerange_rel" ->
      s"""SELECT event_type, count(*) AS n, CAST(sum(CAST(value AS $Sum6)) AS DOUBLE) AS sum_value
         |FROM events
         |WHERE $EvUs > (SELECT max($EvUs) FROM events) - 604800000000
         |GROUP BY event_type""".stripMargin,

    "q_cube" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(grouping(l_returnflag, l_linestatus) AS INTEGER) AS gid,
         |  count(*) AS n,
         |  CAST(sum(CAST(l_quantity AS $Sum6)) AS DOUBLE) AS sum_qty,
         |  round(avg(l_extendedprice), 6) AS avg_price
         |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin,

    "q_argmin" ->
      """WITH r AS (SELECT *, row_number() OVER (PARTITION BY l_partkey
        |    ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn
        |  FROM lineitem)
        |SELECT p.p_partkey, p.p_name, r.l_orderkey, r.l_linenumber,
        |  r.l_extendedprice AS min_price
        |FROM r JOIN part p ON r.l_partkey = p.p_partkey WHERE r.rn = 1""".stripMargin,

    "q_retention" ->
      """WITH f AS (SELECT user_id, strftime(min(ts), '%Y-%m') AS cohort
        |  FROM events GROUP BY user_id),
        |a AS (SELECT DISTINCT user_id, strftime(ts, '%Y-%m') AS act_month
        |  FROM events)
        |SELECT cohort, act_month, count(*) AS n_users
        |FROM a JOIN f USING (user_id) GROUP BY 1, 2""".stripMargin,

    // churn: distinct (user, week), user-keyed lead, censored final
    // week, per-week rollup — mirrors the Spark chain exactly
    "q_churn" ->
      s"""WITH uw AS (SELECT DISTINCT user_id,
         |    ($EvUs - 1704067200000000) // ${7 * 86400000000L} AS w
         |  FROM events),
         |wx AS (SELECT max(w) AS wx FROM uw),
         |nx AS (SELECT user_id, w,
         |    lead(w) OVER (PARTITION BY user_id ORDER BY w) AS nw
         |  FROM uw)
         |SELECT w AS week_num, count(*) AS n_active,
         |  count(CASE WHEN nw IS NULL OR nw > w + 1 THEN 1 END)
         |    AS n_churned,
         |  round(CAST(count(CASE WHEN nw IS NULL OR nw > w + 1 THEN 1 END)
         |      AS DOUBLE) / count(*), 6) AS churn_rate
         |FROM nx, wx WHERE w < wx GROUP BY w""".stripMargin,

    "q_rank_stats" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  round(percent_rank() OVER w, 6) AS pr,
        |  round(cume_dist() OVER w, 6) AS cd,
        |  CAST(ntile(4) OVER w AS INTEGER) AS quartile
        |FROM orders WINDOW w AS (PARTITION BY o_orderpriority
        |  ORDER BY o_totalprice, o_orderkey)""".stripMargin,

    "ts_seasonal" ->
      """SELECT event_type, CAST(hour(ts) AS INTEGER) AS hod,
        |  CAST(isodow(ts) AS INTEGER) AS dow_iso,
        |  count(*) AS n, round(avg(value), 6) AS avg_value
        |FROM events GROUP BY 1, 2, 3""".stripMargin,

    "ts_mad" ->
      s"""WITH m AS (SELECT event_type, quantile_cont(value, 0.5) AS med
         |  FROM events GROUP BY event_type),
         |d AS (SELECT e.event_type, e.user_id, $EvUs AS ts, e.value, m.med
         |  FROM events e JOIN m USING (event_type)),
         |md AS (SELECT event_type, quantile_cont(abs(value - med), 0.5) AS mad
         |  FROM d GROUP BY event_type)
         |SELECT d.event_type, d.user_id, d.ts, d.value,
         |  round(abs(d.value - d.med) / md.mad, 6) AS dev_ratio
         |FROM d JOIN md USING (event_type)
         |WHERE abs(d.value - d.med) / md.mad > 3.0""".stripMargin,

    "ts_gaps" ->
      s"""WITH l AS (SELECT user_id, $EvUs AS tu,
         |    lag($EvUs) OVER (PARTITION BY user_id ORDER BY $EvUs) AS pt
         |  FROM events)
         |SELECT user_id, pt AS gap_begin, tu AS gap_end, tu - pt AS gap_us
         |FROM l WHERE pt IS NOT NULL AND tu - pt > 3600000000""".stripMargin,

    // list() window frame + list_reduce: seeds with the first (oldest)
    // element then folds left — exactly Trend.ewma's aggregate() seed
    // and order, so the float sequences are identical; µ-unit floor
    // (round() half-ties differ across engines)
    "ts_ewma" ->
      s"""WITH l AS (SELECT user_id, $EvUs AS ts, value,
         |    list(value) OVER (PARTITION BY user_id ORDER BY $EvUs, value
         |      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS lst
         |  FROM events)
         |SELECT user_id, ts, value,
         |  floor(list_reduce(lst, (acc, x) ->
         |    acc * CAST(0.7 AS DOUBLE) + x * CAST(0.3 AS DOUBLE))
         |    * 1000000.0) / 1000000.0 AS ewma
         |FROM l""".stripMargin,

    // the same list() frame as ts_ewma, folded over [level, trend]
    // LIST state (struct_pack-in-lambda computes the second field
    // against the already-updated first — hand-verified quirk; list
    // state folds atomically): seed = first element [x1, 0], per step
    // l' = αx + (1-α)(l+b), b' = β(l'−l) + (1-β)b with l' INLINED —
    // verbatim the native HoltAgg update trees, so the IEEE sequences
    // are identical; µ-unit floors close the chain
    "ts_holt" ->
      s"""WITH l AS (SELECT user_id, $EvUs AS ts, value,
         |    list(value) OVER (PARTITION BY user_id ORDER BY $EvUs, value
         |      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS lst
         |  FROM events),
         |f AS (SELECT user_id, ts, value,
         |  list_reduce(list_transform(lst,
         |      x -> [CAST(x AS DOUBLE), CAST(0.0 AS DOUBLE)]),
         |    (acc, e) -> [
         |      e[1] * CAST($HoltAlpha AS DOUBLE)
         |        + (acc[1] + acc[2]) * CAST(${1.0 - HoltAlpha} AS DOUBLE),
         |      (e[1] * CAST($HoltAlpha AS DOUBLE)
         |          + (acc[1] + acc[2]) * CAST(${1.0 - HoltAlpha} AS DOUBLE)
         |          - acc[1]) * CAST($HoltBeta AS DOUBLE)
         |        + acc[2] * CAST(${1.0 - HoltBeta} AS DOUBLE)]) AS st
         |  FROM l)
         |SELECT user_id, ts, value,
         |  floor(st[1] * 1000000.0) / 1000000.0 AS level,
         |  floor(st[2] * 1000000.0) / 1000000.0 AS trend
         |FROM f""".stripMargin,

    // the r0/r1 cost trees appear VERBATIM inside the renormalization
    // (the HwAgg inlining convention) so both engines replay identical
    // IEEE sequences; constants are Scala shortest-repr doubles
    "ts_burst" -> {
      val (k0, k1) = (-math.log(BurstLam0), -math.log(BurstLam1))
      val d = "AS DOUBLE"
      val m0 = s"(e[1] * CAST($BurstLam0 $d) + CAST($k0 $d))"
      val m1 = s"(e[1] * CAST($BurstLam1 $d) + CAST($k1 $d))"
      val r0 = s"least(acc[1], acc[2]) + $m0"
      val r1 = s"least(acc[2], acc[1] + CAST($BurstGamma $d)) + $m1"
      s"""WITH bsg AS (SELECT user_id, $EvUs AS ts,
         |    CAST($EvUs - lag($EvUs)
         |        OVER (PARTITION BY user_id ORDER BY $EvUs) $d)
         |      / 1000000.0 AS gap
         |  FROM events),
         |bsf AS (SELECT user_id, ts, gap,
         |    list(gap) OVER (PARTITION BY user_id ORDER BY ts
         |      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS lst
         |  FROM bsg WHERE gap IS NOT NULL),
         |bst AS (SELECT user_id, ts, gap,
         |    list_reduce(list_prepend(
         |        [CAST(0.0 $d), CAST($BurstGamma $d)],
         |        list_transform(lst, x -> [CAST(x $d)])),
         |      (acc, e) -> [
         |        $r0 - least($r0, $r1),
         |        $r1 - least($r0, $r1)]) AS st
         |  FROM bsf)
         |SELECT user_id, ts, gap AS gap_s, st[2] < st[1] AS burst,
         |  floor((st[1] - st[2]) * 1000000.0) / 1000000.0 AS score
         |FROM bst""".stripMargin
    },

    // the Holt-Winters fold restated: state list [lv, tr, cnt,
    // s1..s7], list_reduce seeding from the first element's
    // [x, 0, 1, 0..0] (exactly HwAgg's seed); l' inlined verbatim
    // into b' and s' so the IEEE sequences replay bit-identically
    "ts_holt_winters" -> {
      val a = s"CAST($HoltAlpha AS DOUBLE)"
      val na = s"CAST(${1.0 - HoltAlpha} AS DOUBLE)"
      val bt = s"CAST($HoltBeta AS DOUBLE)"
      val nb = s"CAST(${1.0 - HoltBeta} AS DOUBLE)"
      val g = s"CAST($HwGamma AS DOUBLE)"
      val ng = s"CAST(${1.0 - HwGamma} AS DOUBLE)"
      val m = HwPeriod
      val sp = s"acc[4 + (CAST(acc[3] AS BIGINT) % $m)]"
      val lNew = s"(e[1] - $sp) * $a + (acc[1] + acc[2]) * $na"
      val seedZeros = Seq.fill(m)("0.0").mkString(", ")
      s"""WITH hwg AS (SELECT user_id,
         |    ($EvUs // 86400000000) * 86400000000 AS bucket,
         |    round(avg(value), 6) AS v
         |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
         |hwl AS (SELECT user_id, bucket, v,
         |    list(v) OVER (PARTITION BY user_id ORDER BY bucket, v
         |      ROWS BETWEEN 27 PRECEDING AND CURRENT ROW) AS lst
         |  FROM hwg),
         |hwf AS (SELECT user_id, bucket, v,
         |  list_reduce(list_transform(lst,
         |      x -> [CAST(x AS DOUBLE), 0.0, 1.0, $seedZeros]),
         |    (acc, e) -> list_transform(range(1, ${m + 4}), i -> CASE
         |      WHEN i = 1 THEN $lNew
         |      WHEN i = 2 THEN ($lNew - acc[1]) * $bt + acc[2] * $nb
         |      WHEN i = 3 THEN acc[3] + 1.0
         |      WHEN i = 4 + (CAST(acc[3] AS BIGINT) % $m) THEN
         |        (e[1] - ($lNew)) * $g + $sp * $ng
         |      ELSE acc[i] END)) AS st
         |  FROM hwl)
         |SELECT user_id, bucket, v,
         |  floor(st[1] * 1000000.0) / 1000000.0 AS level,
         |  floor(st[2] * 1000000.0) / 1000000.0 AS trend,
         |  floor(st[4 + ((CAST(st[3] AS BIGINT) - 1) % $m)] * 1000000.0)
         |    / 1000000.0 AS seasonal,
         |  floor((st[1] + st[2] + st[4 + (CAST(st[3] AS BIGINT) % $m)])
         |    * 1000000.0) / 1000000.0 AS forecast
         |FROM hwf""".stripMargin
    },

    // backtest: restates the holt and hw folds VERBATIM on the shared
    // daily grid, lags the raw (un-floored) forecasts, µ-floors each
    // error, exact-integer MAE; best compares the ROUNDED maes
    "ts_forecast_eval" -> {
      val a = s"CAST($HoltAlpha AS DOUBLE)"
      val na = s"CAST(${1.0 - HoltAlpha} AS DOUBLE)"
      val bt = s"CAST($HoltBeta AS DOUBLE)"
      val nb = s"CAST(${1.0 - HoltBeta} AS DOUBLE)"
      val g = s"CAST($HwGamma AS DOUBLE)"
      val ng = s"CAST(${1.0 - HwGamma} AS DOUBLE)"
      val m = HwPeriod
      val sp = s"acc[4 + (CAST(acc[3] AS BIGINT) % $m)]"
      val lNewW = s"(e[1] - $sp) * $a + (acc[1] + acc[2]) * $na"
      val lNewH = s"e[1] * $a + (acc[1] + acc[2]) * $na"
      val seedZeros = Seq.fill(m)("0.0").mkString(", ")
      def maeSql(f: String) =
        s"""round(CAST(sum(CAST(floor(abs(v - $f) * 1000000.0) AS BIGINT))
           |      AS DOUBLE) / count($f) / 1000000.0, 6)""".stripMargin
      s"""WITH feg AS (SELECT user_id,
         |    ($EvUs // 86400000000) * 86400000000 AS bucket,
         |    round(avg(value), 6) AS v
         |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
         |fel AS (SELECT user_id, bucket, v,
         |    list(v) OVER (PARTITION BY user_id ORDER BY bucket, v
         |      ROWS BETWEEN 27 PRECEDING AND CURRENT ROW) AS lst
         |  FROM feg),
         |feh AS (SELECT user_id, bucket, v,
         |  list_reduce(list_transform(lst,
         |      x -> [CAST(x AS DOUBLE), CAST(0.0 AS DOUBLE)]),
         |    (acc, e) -> [
         |      $lNewH,
         |      ($lNewH - acc[1]) * $bt + acc[2] * $nb]) AS hs,
         |  list_reduce(list_transform(lst,
         |      x -> [CAST(x AS DOUBLE), 0.0, 1.0, $seedZeros]),
         |    (acc, e) -> list_transform(range(1, ${m + 4}), i -> CASE
         |      WHEN i = 1 THEN $lNewW
         |      WHEN i = 2 THEN ($lNewW - acc[1]) * $bt + acc[2] * $nb
         |      WHEN i = 3 THEN acc[3] + 1.0
         |      WHEN i = 4 + (CAST(acc[3] AS BIGINT) % $m) THEN
         |        (e[1] - ($lNewW)) * $g + $sp * $ng
         |      ELSE acc[i] END)) AS ws
         |  FROM fel),
         |fef AS (SELECT user_id, v,
         |    lag(v) OVER wl AS fn,
         |    lag(hs[1] + hs[2]) OVER wl AS fh,
         |    lag(ws[1] + ws[2]
         |      + ws[4 + (CAST(ws[3] AS BIGINT) % $m)]) OVER wl AS fw
         |  FROM feh
         |  WINDOW wl AS (PARTITION BY user_id ORDER BY bucket, v)),
         |fee AS (SELECT user_id, count(fn) AS n,
         |    ${maeSql("fn")} AS mae_naive,
         |    ${maeSql("fh")} AS mae_holt,
         |    ${maeSql("fw")} AS mae_hw
         |  FROM fef GROUP BY 1)
         |SELECT user_id, n, mae_naive, mae_holt, mae_hw,
         |  CASE WHEN mae_naive <= mae_holt AND mae_naive <= mae_hw
         |    THEN 'naive'
         |    WHEN mae_holt <= mae_hw THEN 'holt' ELSE 'hw' END AS best
         |FROM fee""".stripMargin
    },

    // segment areas floored to integer micro-units, summed as BIGINT —
    // mirrors Trend.integral's tie-free determinism contract
    "ts_integral" ->
      s"""WITH l AS (SELECT user_id, $EvUs AS tu, value,
         |    lag($EvUs) OVER w AS pt, lag(value) OVER w AS pv
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY $EvUs, value))
         |SELECT user_id, '1h-' || CAST(pt // 3600000000 AS VARCHAR) AS idx,
         |  CAST(sum(CAST(floor((pv + value) / 2.0 * (tu - pt) / 1000000.0
         |    * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0 AS area,
         |  count(*) AS n_segments
         |FROM l WHERE pt IS NOT NULL GROUP BY 1, 2""".stripMargin,

    "ts_counter_rate" ->
      s"""WITH s AS (SELECT user_id, $EvUs AS tus, value FROM events
         |  WHERE event_type = 'click'),
         |p AS (SELECT user_id, tus, value,
         |  lag(tus) OVER w AS ptus, lag(value) OVER w AS pval
         |  FROM s WINDOW w AS (PARTITION BY user_id ORDER BY tus))
         |SELECT user_id, ptus AS ts_begin, tus AS ts_end,
         |  round((CASE WHEN value < pval THEN value ELSE value - pval END)
         |    / (CAST(tus - ptus AS DOUBLE) / 1000000.0), 6) AS rate,
         |  value < pval AS reset
         |FROM p WHERE ptus IS NOT NULL""".stripMargin,

    "q_funnel" ->
      s"""WITH e AS (SELECT user_id, event_type, $EvUs AS tus FROM events),
         |s1 AS (SELECT user_id,
         |    min(CASE WHEN event_type = 'view' THEN tus END) AS t1
         |  FROM e GROUP BY user_id),
         |s2 AS (SELECT e.user_id,
         |    min(CASE WHEN event_type = 'click' AND tus > t1
         |      AND tus <= t1 + 86400000000 THEN tus END) AS t2
         |  FROM e JOIN s1 USING (user_id) GROUP BY e.user_id),
         |s3 AS (SELECT e.user_id,
         |    min(CASE WHEN event_type = 'purchase' AND tus > t2
         |      AND tus <= t2 + 86400000000 THEN tus END) AS t3
         |  FROM e JOIN s2 USING (user_id) GROUP BY e.user_id)
         |SELECT count(t1) AS n_view, count(t2) AS n_click,
         |  count(t3) AS n_buy,
         |  round(CAST(count(t3) AS DOUBLE) / count(t1), 6) AS conv
         |FROM s1 JOIN s2 USING (user_id) JOIN s3 USING (user_id)""".stripMargin,

    // transition matrix: lead over the same (ts, event_id) order,
    // count + row-normalize — n/n_from are exact BIGINTs on both sides
    "q_transitions" ->
      s"""WITH e AS (SELECT user_id, event_type, $EvUs AS tus, event_id
         |  FROM events),
         |tr AS (SELECT event_type AS from_type,
         |    lead(event_type) OVER (PARTITION BY user_id
         |      ORDER BY tus, event_id) AS to_type
         |  FROM e),
         |tc AS (SELECT from_type, to_type, count(*) AS n FROM tr
         |  WHERE to_type IS NOT NULL GROUP BY 1, 2),
         |tw AS (SELECT from_type, to_type, n,
         |    CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT) AS n_from
         |  FROM tc)
         |SELECT from_type, to_type, n, n_from,
         |  round(CAST(n AS DOUBLE) / CAST(n_from AS DOUBLE), 6) AS frac
         |FROM tw""".stripMargin,

    // LTV: the cumulative window runs IN DECIMAL on both engines —
    // only the edge casts to double, so the running sums are exact
    "q_ltv" ->
      s"""WITH ev AS (SELECT user_id, event_type, value,
         |    ($EvUs - 1704067200000000) // ${7 * 86400000000L} AS w
         |  FROM events),
         |ch AS (SELECT user_id, min(w) AS c0 FROM ev GROUP BY user_id),
         |sz AS (SELECT c0, count(*) AS n_cohort FROM ch GROUP BY c0),
         |rv AS (SELECT c.c0 AS cohort_week, e.w - c.c0 AS week_offset,
         |    count(*) AS n_purchases,
         |    sum(CAST(e.value AS DECIMAL(38,6))) AS rev_d
         |  FROM ev e JOIN ch c USING (user_id)
         |  WHERE e.event_type = 'purchase' GROUP BY 1, 2),
         |cu AS (SELECT cohort_week, week_offset, n_purchases, rev_d,
         |    sum(rev_d) OVER (PARTITION BY cohort_week
         |      ORDER BY week_offset
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_d
         |  FROM rv)
         |SELECT u.cohort_week, u.week_offset, u.n_purchases,
         |  CAST(u.rev_d AS DOUBLE) AS revenue,
         |  CAST(u.cum_d AS DOUBLE) AS cum_revenue,
         |  s.n_cohort,
         |  round(CAST(u.cum_d AS DOUBLE) / CAST(s.n_cohort AS DOUBLE), 6)
         |    AS ltv_per_user
         |FROM cu u JOIN sz s ON u.cohort_week = s.c0""".stripMargin,

    // RFM: cohort from ALL events, stats from purchases, every ntile
    // partitioned by cohort with full (metric, user_id) tie-breaks so
    // the quintiles are deterministic on both engines; monetary =
    // exact DECIMAL(38,6) sum cast to double
    "q_rfm" ->
      s"""WITH ev AS (SELECT user_id, event_type, value, $EvUs AS tus
         |  FROM events),
         |ch AS (SELECT user_id,
         |    min((tus - 1704067200000000) // ${7 * 86400000000L}) AS c0
         |  FROM ev GROUP BY user_id),
         |pur AS (SELECT user_id, max(tus) AS last_ts,
         |    count(*) AS n_purchases,
         |    CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS monetary
         |  FROM ev WHERE event_type = 'purchase' GROUP BY user_id),
         |mx AS (SELECT max(tus) AS max_ts FROM ev),
         |base AS (SELECT p.user_id, c.c0 AS cohort_week,
         |    (m.max_ts - p.last_ts) // 86400000000 AS recency_days,
         |    p.n_purchases, p.monetary
         |  FROM pur p JOIN ch c USING (user_id), mx m)
         |SELECT user_id, cohort_week, recency_days, n_purchases,
         |  monetary,
         |  CAST(ntile(5) OVER (PARTITION BY cohort_week
         |    ORDER BY recency_days DESC, user_id) AS INTEGER) AS r_score,
         |  CAST(ntile(5) OVER (PARTITION BY cohort_week
         |    ORDER BY n_purchases, user_id) AS INTEGER) AS f_score,
         |  CAST(ntile(5) OVER (PARTITION BY cohort_week
         |    ORDER BY monetary, user_id) AS INTEGER) AS m_score,
         |  CASE
         |    WHEN ntile(5) OVER (PARTITION BY cohort_week
         |      ORDER BY recency_days DESC, user_id) >= 4
         |     AND ntile(5) OVER (PARTITION BY cohort_week
         |      ORDER BY n_purchases, user_id) >= 4 THEN 'champion'
         |    WHEN ntile(5) OVER (PARTITION BY cohort_week
         |      ORDER BY recency_days DESC, user_id) >= 4 THEN 'recent'
         |    WHEN ntile(5) OVER (PARTITION BY cohort_week
         |      ORDER BY n_purchases, user_id) >= 4 THEN 'loyal'
         |    WHEN ntile(5) OVER (PARTITION BY cohort_week
         |      ORDER BY recency_days DESC, user_id) <= 2
         |     AND ntile(5) OVER (PARTITION BY cohort_week
         |      ORDER BY n_purchases, user_id) <= 2 THEN 'at_risk'
         |    ELSE 'regular' END AS segment
         |FROM base""".stripMargin,

    // stickiness: DISTINCT (user, day), trailing-7 window via the
    // tiny day-frame join, count(DISTINCT) per day — all BIGINTs
    "q_stickiness" ->
      s"""WITH ud AS (SELECT DISTINCT user_id,
         |    ($EvUs - 1704067200000000) // 86400000000 AS d
         |  FROM events),
         |dy AS (SELECT DISTINCT d AS d0 FROM ud),
         |wau AS (SELECT b.d0, count(DISTINCT a.user_id) AS wau
         |  FROM ud a JOIN dy b ON a.d <= b.d0 AND a.d >= b.d0 - 6
         |  GROUP BY b.d0),
         |dau AS (SELECT d, count(*) AS dau FROM ud GROUP BY d)
         |SELECT dau.d AS day_num, dau.dau, wau.wau,
         |  round(CAST(dau.dau AS DOUBLE) / CAST(wau.wau AS DOUBLE), 6)
         |    AS stickiness
         |FROM dau JOIN wau ON dau.d = wau.d0""".stripMargin,

    // Welch z: per-variant exact integer sums (µ-snapped s1/s2, the
    // DECIMAL(38,0) variance key clamped at 0), sample variance
    // key/1e12/n/(n−1), z rounded 4dp — the same parenthesization as
    // the Spark fold so the doubles are bit-stable
    "q_ab_test" ->
      s"""WITH pe AS (SELECT user_id % 2 AS variant, value FROM events
         |  WHERE event_type = 'purchase'),
         |g AS (SELECT variant, count(*) AS n,
         |    SUM(CAST(round(value * 1000000) AS BIGINT)) AS s1,
         |    SUM(CAST(round(value * value * 1000000) AS BIGINT)) AS s2
         |  FROM pe GROUP BY variant),
         |gm AS (SELECT variant, n,
         |    CAST(s1 AS DOUBLE) / 1000000.0 / n AS m,
         |    CASE WHEN n > 1 THEN
         |      greatest(CAST(CAST(s2 AS DECIMAL(38,0)) * n * 1000000
         |        - CAST(s1 AS DECIMAL(38,0)) * s1 AS DOUBLE), 0.0)
         |        / 1000000000000.0 / n / (n - 1) END AS v
         |  FROM g),
         |p AS (SELECT
         |    max(CASE WHEN variant = 0 THEN n END) AS n0,
         |    max(CASE WHEN variant = 1 THEN n END) AS n1,
         |    max(CASE WHEN variant = 0 THEN m END) AS m0,
         |    max(CASE WHEN variant = 1 THEN m END) AS m1,
         |    max(CASE WHEN variant = 0 THEN v END) AS v0,
         |    max(CASE WHEN variant = 1 THEN v END) AS v1
         |  FROM gm),
         |pz AS (SELECT *, CASE WHEN sqrt(v0 / n0 + v1 / n1) > 0
         |    THEN (m0 - m1) / sqrt(v0 / n0 + v1 / n1) END AS zz
         |  FROM p)
         |SELECT n0, n1, round(m0, 6) AS mean0, round(m1, 6) AS mean1,
         |  round(zz, 4) AS z, abs(zz) > 1.96 AS significant
         |FROM pz""".stripMargin,

    // path trigrams: two leads over the same (ts, event_id) order,
    // LIMIT ties broken on the path string — deterministic both sides
    "q_paths" ->
      s"""WITH e AS (SELECT user_id, event_type, $EvUs AS tus, event_id
         |  FROM events),
         |tg AS (SELECT event_type AS e1,
         |    lead(event_type, 1) OVER w AS e2,
         |    lead(event_type, 2) OVER w AS e3
         |  FROM e WINDOW w AS (PARTITION BY user_id
         |    ORDER BY tus, event_id)),
         |pc AS (SELECT e1 || '>' || e2 || '>' || e3 AS path,
         |    count(*) AS n
         |  FROM tg WHERE e3 IS NOT NULL GROUP BY 1)
         |SELECT path, n FROM pc ORDER BY n DESC, path LIMIT 10""".stripMargin,

    // cohort matrix: DISTINCT (user, week) + min-week cohort + the
    // (cohort, offset) counts; n_active/n_cohort exact BIGINTs
    "q_cohort_matrix" ->
      s"""WITH uw AS (SELECT DISTINCT user_id,
         |    ($EvUs - 1704067200000000) // ${7 * 86400000000L} AS w
         |  FROM events),
         |ch AS (SELECT user_id, min(w) AS c0 FROM uw GROUP BY user_id),
         |sz AS (SELECT c0, count(*) AS n_cohort FROM ch GROUP BY c0),
         |m AS (SELECT c.c0, u.w - c.c0 AS week_offset,
         |    count(*) AS n_active
         |  FROM uw u JOIN ch c USING (user_id) GROUP BY 1, 2)
         |SELECT m.c0 AS cohort_week, m.week_offset, m.n_active,
         |  s.n_cohort,
         |  round(CAST(m.n_active AS DOUBLE)
         |    / CAST(s.n_cohort AS DOUBLE), 6) AS retention
         |FROM m JOIN sz s USING (c0)""".stripMargin,

    // the salted two-stage agg must equal the PLAIN group-by — the
    // oracle is deliberately the unsalted form; avg derives from the
    // exact decimal sum on both sides (not avg()) so the re-combined
    // double is bit-identical
    "q_skew_salted" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value,
        |  min(value) AS min_value, max(value) AS max_value,
        |  round(CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
        |    / count(*), 6) AS avg_value
        |FROM events GROUP BY event_type""".stripMargin,

    // the slope/intercept doubles are computed from exact integer sums
    // with the same parenthesization as the Spark side — bit-stable
    "ts_trend_slope" ->
      s"""WITH p AS (SELECT event_type,
         |    ($EvUs - 1704067200000000) // 3600000000 AS x,
         |    CAST(floor(value * 1000000.0) AS BIGINT) AS y6 FROM events),
         |a AS (SELECT event_type, count(*) AS n, sum(x) AS sx,
         |    sum(y6) AS sy6, sum(x * y6) AS sxy6, sum(x * x) AS sxx
         |  FROM p GROUP BY event_type),
         |f AS (SELECT event_type, n,
         |    (CAST(n AS DOUBLE) * CAST(sxy6 AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sy6 AS DOUBLE))
         |    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope6,
         |    sx, sy6 FROM a)
         |SELECT event_type, n,
         |  round(slope6 / 1000000.0, 6) AS slope_per_hour,
         |  round((CAST(sy6 AS DOUBLE) - slope6 * CAST(sx AS DOUBLE))
         |    / CAST(n AS DOUBLE) / 1000000.0, 6) AS intercept
         |FROM f""".stripMargin,

    "ts_hist" ->
      """WITH h AS (SELECT event_type,
        |    CAST(least(greatest(floor(value / 25), 0), 19) AS INTEGER)
        |      AS bucket
        |  FROM events)
        |SELECT event_type, bucket,
        |  CAST(bucket * 25 AS DOUBLE) AS lo,
        |  CAST((bucket + 1) * 25 AS DOUBLE) AS hi,
        |  count(*) AS n
        |FROM h GROUP BY 1, 2""".stripMargin,

    // parallel LTTB: anchors are exact (bucket-midpoint x, decimal-mean
    // y) so the triangle-area argmax is the same IEEE arithmetic on
    // both engines; first/last buckets keep earliest/latest point
    "ts_lttb" ->
      s"""WITH b AS (SELECT user_id, $EvUs AS tus, value,
         |    $EvUs // 86400000000 AS bkt FROM events),
         |m AS (SELECT user_id, bkt,
         |    CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / count(*)
         |      AS ay
         |  FROM b GROUP BY 1, 2),
         |a AS (SELECT user_id, bkt,
         |    lag(bkt) OVER w AS pb, lag(ay) OVER w AS pay,
         |    lead(bkt) OVER w AS nb, lead(ay) OVER w AS nay
         |  FROM m WINDOW w AS (PARTITION BY user_id ORDER BY bkt)),
         |j AS (SELECT b.user_id, b.bkt, b.tus, b.value,
         |    CAST(a.pb * 86400000000 + 43200000000 AS DOUBLE) AS ax, a.pay,
         |    CAST(a.nb * 86400000000 + 43200000000 AS DOUBLE) AS cx, a.nay
         |  FROM b JOIN a ON b.user_id = a.user_id AND b.bkt = a.bkt),
         |r AS (SELECT user_id, bkt, tus, value,
         |    row_number() OVER (PARTITION BY user_id, bkt ORDER BY
         |      CASE WHEN pay IS NULL THEN CAST(tus AS DOUBLE)
         |           WHEN nay IS NULL THEN -CAST(tus AS DOUBLE)
         |           ELSE -abs((ax - cx) * (value - pay)
         |             - (ax - CAST(tus AS DOUBLE)) * (nay - pay))
         |      END, tus, value) AS rn
         |  FROM j)
         |SELECT user_id, bkt AS bucket, tus AS ts, value
         |FROM r WHERE rn = 1""".stripMargin
  )

  // ----------------------------------------------- §2.8 training-data ops

  private val EmbDim = 64

  // -------------------------------------------------- ANN eval vocabulary

  /** EVERY ANN/retrieval query batch is the CONSTANT base-copy set
    * (vec_id % 100 = 0 AND vec_id < 1e8, which pins it to the original
    * rows under ScaleUp's +1e8-per-replica id shift): a serving batch's
    * |Q| is an operational constant, so no registered plan — search,
    * recall eval, probe curve, rerank — charges O(n·|Q|) = O(n²/100)
    * work that no deployment pays. The pin is a no-op on the
    * driver-generated test tables, whose ids all sit below 1e8. The
    * oracles read the same constants through [[sqlAnnQueries]].
    */
  private val AnnQueryEvery = 100
  /** Ids below this are ScaleUp's unshifted base copy. */
  private val BaseIdMax = ScaleUp.KeyOff
  /** Planted payload copies take `id + PlantedIdOff`: clear of every
    * ScaleUp replica range (+1e8 would collide with replica 1's ids).
    */
  private val PlantedIdOff = 100000000000L
  /** The contamination benchmark set: every 97th BASE-COPY doc. An
    * eval suite is operationally constant, so the broadcast/bloom side
    * stays fixed while only the corpus side scales — the ANN query
    * batches' policy. [[sqlBenchDocs]] is its oracle twin.
    */
  private val BenchDocEvery = 97
  private val BenchDocs =
    col("doc_id") % BenchDocEvery === 0 && col("doc_id") < BaseIdMax

  private def annQueries(emb: DataFrame): DataFrame =
    emb.where(col("vec_id") % AnnQueryEvery === 0 &&
      col("vec_id") < BaseIdMax)

  /** The (query, neighbor) keys every ANN eval joins truth to candidates on. */
  private val AnnKeys = Seq("query_id", "neighbor_id")

  /** The ANN evals' ground truth: brute-force cosine top-3 of the
    * batch `q`, checkpointed once because it is the left side of every
    * recall join in the query.
    */
  private def bruteTruth(emb: DataFrame, q: DataFrame): DataFrame =
    Knn.bruteTopK(emb, q, EmbDim, 3).select("query_id", "neighbor_id")
      .localCheckpoint(false)

  /** The recall score every eval ends in, over truth rows left-joined
    * to a candidate tag `__h`: n_truth counts truth rows, n_hits the
    * ones a candidate found, recall = n_hits / n_truth at 6dp and NULL
    * on an empty truth (a bare 0/0 raises DIVIDE_BY_ZERO under ANSI,
    * where DuckDB reads NULL). [[sqlRecall]] is its oracle twin.
    */
  private def recallAgg(hits: RelationalGroupedDataset): DataFrame = {
    val nTruth = count(lit(1))
    val nHits = count(col("__h"))
    hits.agg(nTruth.as("n_truth"), nHits.as("n_hits"),
      when(nTruth === 0, lit(null).cast("double"))
        .otherwise(round(nHits.cast("double") / nTruth, 6)).as("recall"))
  }

  /** Recall of one candidate frame: a single (n_truth, n_hits, recall)
    * row, also on an empty truth. `cand` must be distinct per `keys`.
    */
  private def recall(truth: DataFrame, cand: DataFrame,
                     keys: Seq[String] = AnnKeys): DataFrame =
    recallAgg(truth.join(cand.select(keys.map(col): _*)
      .withColumn("__h", lit(1)), keys, "left").groupBy())

  /** Recall of several candidate legs in ONE left join: the truth,
    * exploded once per method name, against the method-tagged union of
    * the legs, grouped by method — one (method, n_truth, n_hits,
    * recall) row per leg, and no row on an empty truth. Each leg must
    * be distinct per `keys`, so join multiplicity is 1 and the counts
    * equal per-leg [[recall]]s.
    */
  private def recallByMethod(truth: DataFrame, legs: Seq[(String, DataFrame)],
                             keys: Seq[String] = AnnKeys): DataFrame = {
    val cand = legs.map { case (m, df) =>
        df.select(lit(m).as("method") +: keys.map(col) :+ lit(1).as("__h"): _*)
      }.reduce(_ unionByName _)
    recallAgg(truth.select(keys.map(col) :+
        explode(array(legs.map(l => lit(l._1)): _*)).as("method"): _*)
      .join(cand, "method" +: keys, "left").groupBy(col("method")))
      .select(col("method"), col("n_truth"), col("n_hits"), col("recall"))
  }

  /** doc_blocklist's fixed wordlist (shared with its oracle). */
  private val BlockTerms = Seq("slow", "skew", "stale")

  /** Posting-list df cap for the pruned ngram-Jaccard scale path —
    * shared by the Spark query and its oracle so both prune the same
    * shingles. 16 is deliberately low for sf-scale corpora so the test
    * exercises real pruning; at 100 TB the cap trades recall on
    * boilerplate-only pairs for a hard bound on the hottest join key.
    */
  private val NgramJaccardMaxDf = 16
  /** mm_frames frame-sampling step, shared by the Spark query and its
    * oracle SQL so the two sides cannot drift.
    */
  private val MmFramesEveryKth = 2

  /** Corpus-size ceiling for mm_phash_eval's exhaustive O(n²) truth;
    * beyond it the registration auto-switches to the sampled probe
    * harness so no sweep pays the quadratic plan by accident.
    */
  private val MmPhashEvalMaxDocs = 1000000L

  /** Corpus bound above which emb_dedup_cosine_fixed's declared
    * floor-geometry witness caps to the base copy (the 4-plane pin is
    * a block² blowup by construction; the cap keeps it a constant-cost
    * witness at every scale). The oracle replays the identical gate
    * from count(*).
    */
  private val EmbDedupFixedMaxVecs = 10000L

  /** Corpus-size ceiling for doc_dedup_ngram_jaccard's UNCAPPED
    * posting-list self-join — the one text path whose hottest shingle
    * is O(df²) pairs with no dial. Beyond it the registration
    * auto-switches to the df-capped pruned plan (the
    * mm_phash_eval convention), so no sweep pays an uncapped hot
    * posting list by accident; the uncapped exact shape stays the
    * registered behavior at test/oracle scale.
    */
  private val NgramJaccardUncappedMaxDocs = 100000L

  /** The sampled phash-recall harness (O(n·|P|) truth against planted
    * re-encode probes) — the body of mm_phash_eval_sampled, shared by
    * mm_phash_eval's above-threshold auto-switch.
    */
  private def mmPhashEvalSampledDf(s: SparkSession, dir: String): DataFrame = {
    val docs0 = tbl(s, dir, "documents").select("doc_id", "text")
    val planted = docs0.where(col("doc_id") % 50 === 0 &&
        col("doc_id") < BaseIdMax)
      .withColumn("doc_id", col("doc_id") + lit(PlantedIdOff))
    val all = docs0.unionByName(planted)
    val ph = Multimodal.phashAll(s, all).toDF()
    val probes = ph.where(col("doc_id") >= PlantedIdOff)
      .select(col("doc_id").as("id_p"), col("phash").as("ph_p"))
    val truth = ph
      .select(col("doc_id").as("id_c"), col("phash").as("ph_c"))
      .join(broadcast(probes), col("id_p") =!= col("id_c"))
      .where(bit_count(col("ph_p").bitwiseXOR(col("ph_c"))) <= 3)
      .select(least(col("id_p"), col("id_c")).as("id_a"),
        greatest(col("id_p"), col("id_c")).as("id_b"))
      .distinct()
    recall(truth, Multimodal.phashPairs(s, all), Seq("id_a", "id_b"))
      .withColumnRenamed("n_truth", "n_true")
  }

  private def dataQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "doc_dedup_exact" -> { (s, dir) =>
      Dedup.exact(tbl(s, dir, "documents"))
    },

    "doc_dedup_minhash" -> { (s, dir) =>
      Dedup.minhashCandidates(tbl(s, dir, "documents"))
    },

    "doc_minhash_est" -> { (s, dir) =>
      Dedup.minhashEstimates(tbl(s, dir, "documents"))
    },

    // deterministic training-shard packing: (bucket, shard, pos) per
    // doc — per-bucket windows, no global sort
    "doc_shard" -> { (s, dir) =>
      Sampling.shardPack(tbl(s, dir, "documents"), "doc_id", col("text"), 8, 32)
    },

    "doc_pack" -> { (s, dir) =>
      Sampling.tokenPack(tbl(s, dir, "documents"), "doc_id", col("text"),
        nBuckets = 16, budget = 2048)
    },

    // keep only docs at or above the corpus p75 quality score: one
    // tiny global percentile agg read back as a scalar (the ts_mad
    // two-pass pattern); the barrier stops the filter re-scoring it
    "doc_quality_filter" -> { (s, dir) =>
      val q = TextOps.quality(ftbl(s, dir, "documents"))
        .select(col("doc_id"), org.apache.spark.sql.graft.GraftExpressions
          .no_pushdown(col("quality")).as("quality"))
      val thr = q.agg(Aggs.percentileLin6(col("quality"), 0.75).as("q75"))
      Par.withScalars(q, thr).where(col("quality") >= col("q75"))
        .select("doc_id", "quality", "q75")
    },

    // the practical end of a dedup pipeline: per near-dup cluster keep
    // the best member (longest text, doc_id tie-break). Window on the
    // cluster id — singleton-dominated, so the partition sizes stay
    // O(cluster size) at any corpus scale
    "doc_dedup_keep_best" -> { (s, dir) =>
      val docs = tbl(s, dir, "documents")
      val w = Window.partitionBy(col("cluster_id"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      Dedup.minhashClusters(docs)
        .join(docs.select("doc_id", "n_chars"), Seq("doc_id"))
        .withColumn("__rk", row_number().over(w))
        .select(col("doc_id"), col("cluster_id"), (col("__rk") === 1).as("keep"))
    },

    "doc_dedup_simhash" -> { (s, dir) =>
      Dedup.simhashPairs(ftbl(s, dir, "documents"))
    },

    // the production simhash geometry (60-bit / 4×15-bit bands) run
    // end-to-end: random collisions vanish, candidates are true
    // near-dups — the width dial demonstrated, not just documented
    "doc_dedup_simhash_wide" -> { (s, dir) =>
      Dedup.simhashPairsWide(tbl(s, dir, "documents"))
    },

    // simhash candidates at the pigeonhole-complete h<=2 bound,
    // verified by TRUE Levenshtein distance (banded DP, capped at the
    // largest distance tau could accept) — the char-level dup
    // criterion token-set methods can't express; every candidate is
    // emitted with its verdict so the generator's precision is
    // visible, not just the survivors
    "doc_dedup_edit" -> { (s, dir) =>
      Dedup.editVerifiedPairs(ftbl(s, dir, "documents"))
    },

    // exact n-gram Jaccard, UNCAPPED posting lists: correct at any
    // scale but the hottest shingle's posting list self-joins O(df²);
    // above NgramJaccardUncappedMaxDocs the registration auto-switches
    // to the df-capped pruned plan (same output columns; losses
    // concentrate on boilerplate-only pairs — see the pruned entry)
    "doc_dedup_ngram_jaccard" -> { (s, dir) =>
      val docs = tbl(s, dir, "documents")
      val cap = if (Parquet.countRows(docs) > NgramJaccardUncappedMaxDocs)
        Some(NgramJaccardMaxDf) else None
      Dedup.ngramJaccardPairs(docs, maxDocFreq = cap)
    },

    // THE scale path for exact ngram Jaccard: posting lists capped at
    // maxDocFreq docs (a stopword shingle in 1e5 docs is 1e10 candidate
    // pairs; it carries ~no Jaccard signal). Recall bound: a true pair
    // is lost only if EVERY shared shingle has df > cap — near-dups
    // share mostly rare shingles, so losses concentrate on templated
    // boilerplate. The oracle applies the identical df cap.
    "doc_dedup_ngram_jaccard_pruned" -> { (s, dir) =>
      Dedup.ngramJaccardPairs(tbl(s, dir, "documents"),
        maxDocFreq = Some(NgramJaccardMaxDf))
    },

    "doc_dedup_cluster" -> { (s, dir) =>
      Dedup.minhashClusters(tbl(s, dir, "documents"))
    },

    // dedup-index quality eval — the text twin of emb_ann_recall:
    // recall of the MinHash-LSH banding and SimHash byte-banding
    // against exact-Jaccard ground truth (pairs with J >= 0.5). The
    // number that says whether the approximate candidate generators
    // are safe to point at the full corpus.
    "doc_dedup_eval" -> { (s, dir) =>
      // r16: fanout tried (the signature passes profile as single-task
      // stages) and measured SLOWER paired (+0.19/+0.21 s, two pairs in
      // one JVM) — the candidates' band self-joins dominate, not the
      // scan; raw read stays
      val docs = tbl(s, dir, "documents")
      val truth = Dedup.ngramJaccardPairs(docs)
        .select("id_a", "id_b").localCheckpoint(false)
      // r15: a shared-shingle-pass + single-eval-join reshape was
      // tried and measured SLOWER at bench scale (+0.3..0.5 s paired;
      // the (id, sids) checkpoint copies cost more than re-running the
      // native shingle hash), so the r14 per-leg broadcast-join shape
      // stays
      Seq("minhash_lsh" -> Dedup.minhashCandidates(docs),
          "simhash" -> Dedup.simhashPairs(docs)).map { case (m, cand) =>
          recall(truth, cand, Seq("id_a", "id_b"))
            .select(lit(m).as("method"), col("*"))
        }.reduce(_ unionByName _)
    },

    // the (bands, rows) S-curve dial MEASURED over the SAME 16
    // minhashes: 2x8 / 4x4 / 8x2 banding recall AND precision vs the
    // exact-Jaccard truth — more bands = higher recall, more candidate
    // volume (the collision-probability 1-(1-s^r)^b knee moving left);
    // completes the dial-curve family (IVF probes, LSH tables).
    // r15 shape: the 16 signatures are computed ONCE and shared by all
    // three band legs (they re-derived the full shingle+hash pass per
    // leg), the shingle pass is shared with the exact truth, and the
    // per-leg count aggs fold into three method-keyed aggs. A band
    // with zero candidates still emits its row (the literal method
    // frame is the left side).
    "doc_minhash_band_curve" -> { (s, dir) =>
      val docs = tbl(s, dir, "documents")
      val withSh = docs.select(col("doc_id"),
        TextOps.shingleIds(col("text"), 3).as("sids")).localCheckpoint(false)
      val truth = Dedup.ngramJaccardPairsFromShingles(withSh)
        .select("id_a", "id_b").localCheckpoint(false)
      val sigs = Dedup.minhashSignaturesFromShingles(withSh)
      // r16: the three band families are NESTED — an aligned run of
      // 16/b equal signature slots contains an aligned run of every
      // finer family's length, so cand(2) ⊆ cand(4) ⊆ cand(8) — which
      // collapses the three banded self-joins + distincts + eval
      // joins (r15 shape) into ONE (lvl, band, bk) self-join whose
      // per-pair min(lvl) encodes every leg: leg b's candidate set is
      // exactly min_lvl <= b (the emb_lsh_table_curve min-table
      // argument, applied to band granularity). Same total collision
      // volume, one shuffle + one truth join instead of three of
      // each; counts fold into two scalar aggs. Paired A/B at sf0.1:
      // 2.25 -> 1.68 s and 5.38 (r14 shape) -> 2.50 s in a second
      // session; rows identical at sf0.001/sf0.01 (eq-checked) and
      // oracle-verified.
      val bandsList = Seq(2, 4, 8)
      val bandStructs = for { bands <- bandsList; b <- 0 until bands }
        yield {
          val r = 16 / bands
          val hs = (b * r until b * r + r).map(i => col(s"h$i"))
          struct(lit(bands).as("lvl"), lit(b).as("band"),
            hs.reduceLeft((acc, h) =>
              (acc * lit(31L) + h) % lit(TextOps.HashMod)).as("bk"))
        }
      val banded = sigs.select(col("doc_id"),
          explode(array(bandStructs: _*)).as("bb"))
        .select(col("doc_id"), col("bb.lvl").as("lvl"),
          col("bb.band").as("band"), col("bb.bk").as("bk"))
      val pairsMin = banded
        .select(col("doc_id").as("id_a"), col("lvl"), col("band"), col("bk"))
        .join(banded.select(col("doc_id").as("id_b"), col("lvl"),
          col("band"), col("bk")), Seq("lvl", "band", "bk"))
        .where(col("id_a") < col("id_b"))
        .groupBy("id_a", "id_b").agg(min(col("lvl")).as("min_lvl"))
        .localCheckpoint(false)
      val ncCols = bandsList.map(bv =>
        coalesce(sum(when(col("min_lvl") <= bv, 1L)), lit(0L)).as(s"c$bv"))
      val ncRow = pairsMin.agg(ncCols.head, ncCols.tail: _*)
      val nhCols = count(lit(1)).as("n_truth") +: bandsList.map(bv =>
        coalesce(sum(when(col("min_lvl") <= bv, 1L)), lit(0L)).as(s"h$bv"))
      val nhRow = truth.join(pairsMin, Seq("id_a", "id_b"), "left")
        .agg(nhCols.head, nhCols.tail: _*)
      Par.withScalars(Par.withScalars(s.range(1)
        .select(explode(array(bandsList.map(lit(_)): _*)).as("bv")), ncRow), nhRow)
        .select(concat(lit("bands_"), col("bv")).as("method"),
          col("n_truth"),
          bandsList.map(bv => when(col("bv") === bv, col(s"c$bv")))
            .reduce(coalesce(_, _)).as("n_cand"),
          bandsList.map(bv => when(col("bv") === bv, col(s"h$bv")))
            .reduce(coalesce(_, _)).as("n_hits"))
        .select(col("method"), col("n_truth"), col("n_cand"), col("n_hits"),
          when(col("n_truth") > 0, round(
            col("n_hits").cast("double") / col("n_truth"), 6)).as("recall"),
          when(col("n_cand") > 0, round(
            col("n_hits").cast("double") / col("n_cand"), 6)).as("prec"))
    },

    "doc_contamination" -> { (s, dir) =>
      Dedup.contamination(tbl(s, dir, "documents"), BenchDocs)
    },

    // char-level decontamination: catches verbatim benchmark text the
    // token n-gram screen misses when token boundaries shift; span
    // edges are exact char offsets so the overlap can be CUT
    "doc_contamination_spans" -> { (s, dir) =>
      Dedup.contaminationSpans(tbl(s, dir, "documents"), BenchDocs)
    },

    // fixed-size-sketch scale path, wrapped in its own contract so
    // the oracle asserts values: Bloom bit layouts are engine-
    // specific, but "no false negatives" is not — the audit emits the
    // exact contamination plus per-doc verdicts (sketch count >=
    // exact count; every exactly-contaminated doc flagged). The
    // oracle pins the exact columns and literal-TRUE verdicts, so a
    // Bloom regression hash-fails. The shingle explode is computed
    // once and shared by the exact and sketch legs (Dedup
    // .contaminationAudit), not re-derived per leg.
    "doc_contamination_bloom" -> { (s, dir) =>
      Dedup.contaminationAudit(tbl(s, dir, "documents"), BenchDocs)
    },

    "doc_dup_ngram_frac" -> { (s, dir) =>
      Dedup.dupNgramFraction(tbl(s, dir, "documents"))
    },

    "doc_dup_blocks" -> { (s, dir) =>
      Dedup.dupBlockFraction(ftbl(s, dir, "documents"))
    },

    // char-level ExactSubstr-style duplicated spans: marks positions
    // whose 20-char gram repeats corpus-wide, coalesces them into
    // maximal spans — no pair enumeration, no df² term anywhere
    "doc_dup_spans" -> { (s, dir) =>
      Dedup.duplicateSpans(ftbl(s, dir, "documents"), k = 20)
    },

    // the destructive ExactSubstr transform: cut every non-first
    // occurrence of a duplicated 20-char gram, reassemble the text
    "doc_span_dedup" -> { (s, dir) =>
      Dedup.spanDedup(tbl(s, dir, "documents"), k = 20)
    },

    // the full BPE training loop (3 merges): per round, vocab-table
    // pair counts -> deterministic argmax -> leftmost-non-overlapping
    // merge fold; the oracle replays ALL rounds incl. the argmaxes
    "doc_bpe_train" -> { (s, dir) =>
      TextOps.bpeTrain(tbl(s, dir, "documents"), steps = 3)
    },

    // per-doc compression from applying the 3 learned merges: the
    // corpus equi-joins the trained vocab, text never re-segmented
    "doc_bpe_apply" -> { (s, dir) =>
      TextOps.bpeApply(tbl(s, dir, "documents"), steps = 3)
    },

    // the destructive counterpart of doc_dup_blocks: repeated blocks
    // keep only their corpus-wide first occurrence and the text is
    // reassembled (C4/RefinedWeb repeated-span removal as a transform)
    "doc_block_dedup" -> { (s, dir) =>
      Dedup.blockDedup(tbl(s, dir, "documents"))
    },

    "doc_langid" -> { (s, dir) =>
      TextOps.langId(tbl(s, dir, "documents"))
        .select(col("doc_id"), col("lang"),
          col("s_en").cast("long").as("s_en"),
          col("s_de").cast("long").as("s_de"),
          col("s_fr").cast("long").as("s_fr"),
          col("s_es").cast("long").as("s_es"),
          col("pred_lang"))
    },

    // the eval that scores the heuristic against the label: per-cell
    // confusion matrix with row-normalized fractions — the langid
    // chain is shared verbatim with doc_langid's oracle
    "doc_langid_eval" -> { (s, dir) =>
      TextOps.langId(tbl(s, dir, "documents"))
        .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
        .withColumn("n_lang",
          sum(col("n")).over(Window.partitionBy("lang")))
        .select(col("lang"), col("pred_lang"), col("n"), col("n_lang"),
          round(col("n").cast("double") / col("n_lang").cast("double"), 6)
            .as("frac"),
          (col("lang") === col("pred_lang")).as("correct"))
    },

    "doc_quality" -> { (s, dir) =>
      TextOps.quality(tbl(s, dir, "documents"))
        .select("doc_id", "n_tokens", "avg_token_len", "punct_ratio",
          "digit_ratio", "stop_ratio", "quality")
    },

    "doc_tokens" -> { (s, dir) =>
      TextOps.tokenStats(tbl(s, dir, "documents"))
        .select(col("doc_id"), col("n_ws_tokens"),
          col("n_bpe_pieces").cast("long").as("n_bpe_pieces"), col("n_chars_m"))
    },

    "doc_gopher" -> { (s, dir) =>
      TextOps.gopherFilter(tbl(s, dir, "documents"))
        .select("doc_id", "rep_2gram", "keep", "drop_reason")
    },

    // blocklist screen: per-doc count/fraction of terms from a fixed
    // wordlist + keep verdict at an exact cross-multiplied 5% ppm
    // threshold — the C4 "bad words" gate; scan-side, zero shuffle
    "doc_blocklist" -> { (s, dir) =>
      TextOps.blocklistScreen(tbl(s, dir, "documents"), BlockTerms)
    },

    "doc_fingerprint" -> { (s, dir) =>
      TextOps.fingerprint(tbl(s, dir, "documents"))
        .select("doc_id", "fp", "fp_min_shingle")
    },

    // winnowing (MOSS) fingerprints — zero-shuffle: window minima and
    // the in-array dedup all run inside the scan stage
    "doc_winnow" -> { (s, dir) =>
      TextOps.winnow(tbl(s, dir, "documents"), shingleN = 3, w = 4)
    },

    "doc_normalize" -> { (s, dir) =>
      TextOps.normalize(tbl(s, dir, "documents"))
        .select("doc_id", "norm_text", "n_chars_norm")
    },

    "doc_pii_scrub" -> { (s, dir) =>
      TextOps.piiScrub(tbl(s, dir, "documents"))
        .select(col("doc_id"),
          col("n_emails").cast("long").as("n_emails"),
          col("n_phones").cast("long").as("n_phones"),
          col("scrubbed"), col("n_chars_scrubbed"))
    },

    "doc_split" -> { (s, dir) =>
      Sampling.hashSplit(tbl(s, dir, "documents"), col("doc_id"))
        .select("doc_id", "bucket", "split")
    },

    // exact-k per-stratum deterministic sample ("10k docs per language
    // for eval"): hash-rank within stratum, keep the first m
    "doc_reservoir" -> { (s, dir) =>
      Sampling.strataTopK(
        tbl(s, dir, "documents").select("doc_id", "lang"), "lang",
        "doc_id", m = 5)
    },

    // weighted sampling without replacement, weight = token count
    // capped at 16 ("sample docs proportional to length"): the
    // min-of-w-hashes race — integer arithmetic only (no pow/ln),
    // scan-side draws, TakeOrderedAndProject top-k
    "doc_sample_weighted" -> { (s, dir) =>
      val docs = tbl(s, dir, "documents")
      Sampling.weightedTopK(
        docs.select(col("doc_id"),
          size(TextOps.tokens(col("text"))).as("__w0")),
        "doc_id", col("__w0"), k = 25)
    },

    // count-min heavy hitters: exact top-20 tokens audited against
    // the fixed 4x256 counter grid — the frequency sketch next to
    // GK/HLL/Bloom; the grid is the ONLY state a 100 TB run keeps
    "doc_heavy_hitters" -> { (s, dir) =>
      Freq.cmsHeavyHitters(tbl(s, dir, "documents"))
    },

    "doc_sample_stratified" -> { (s, dir) =>
      Sampling.stratified(tbl(s, dir, "documents"), col("lang"), col("text"),
        Map("en" -> 20), defaultPct = 60)
        .select("doc_id", "lang")
    },

    // temperature-flattened (alpha=0.5) domain mixture at a 50%
    // corpus target: rare sources keep rate 1, dominant sources thin
    "doc_source_mix" -> { (s, dir) =>
      Sampling.sourceMix(tbl(s, dir, "documents"), col("source"),
        col("text"), targetFrac = 0.5)
        .select("doc_id", "source")
    },

    // assemble the training mix: per source, best-quality-first docs
    // until an 800-token budget is spent (greedy knapsack; quality then
    // doc_id gives a total order so the kept set is deterministic)
    "doc_token_budget" -> { (s, dir) =>
      Sampling.tokenBudget(TextOps.quality(tbl(s, dir, "documents")),
        col("source"), col("n_tokens"), budget = 800L,
        priority = Seq(col("quality").desc, col("doc_id")))
        .select("doc_id", "source", "n_tokens", "quality", "cum_tokens")
    },

    "doc_lm_score" -> { (s, dir) =>
      TextOps.lmScore(tbl(s, dir, "documents"))
    },

    "doc_entropy" -> { (s, dir) =>
      TextOps.entropy(tbl(s, dir, "documents"))
    },

    "doc_classify" -> { (s, dir) =>
      TextOps.classify(tbl(s, dir, "documents"))
    },

    // the TRAINED classifier: one exact-arithmetic logistic gradient
    // step from the zero init (sigmoid(0) = 1/2 exactly, so step 1 is
    // transcendental-free and the oracle mirrors it bit-for-bit),
    // labels = "is this doc English", then score the corpus with the
    // learned table. Multi-step training (with the snapped sigmoid) is
    // the same trainStep iterated — spec-tested for loss descent
    "doc_classify_trained" -> { (s, dir) =>
      val docs = ftbl(s, dir, "documents")
        .withColumn("__is_en", when(col("lang") === "en", 1).otherwise(0))
      val w1 = TextOps.trainStep(docs, "__is_en", TextOps.zeroWeights(s))
      TextOps.classifyWithWeights(docs, w1)
    },

    // ACTUAL training, end to end: 3 logistic epochs on the hash-split
    // train slice (the later epochs exercise the snapped sigmoid, not
    // just step 1's transcendental-free arithmetic), then a held-out
    // eval on the test slice — confusion counts + accuracy vs the
    // is-English label, with the majority-class base rate alongside so
    // "did it learn" is a read-out, not an inference. One metrics row.
    // Honest read-out on the driver testdata: the synthetic corpus
    // draws every language's text from ONE shared vocabulary, so the
    // label is statistically independent of the features and the
    // base rate IS the Bayes ceiling — the trained model correctly
    // converges to the majority-class prior (accuracy == base_rate,
    // all-drop). Learning on separable data is pinned by
    // OperatorSpec's "train learns the language labels" descent test
    "doc_classify_train_eval" -> { (s, dir) =>
      // r16: DROPPED from the fanout whitelist — a paired A/B over two
      // JVMs measures the raw single-task scan 0.24–0.66 s
      // FASTER here: the 3-epoch loop re-reads the fanned checkpoint ~8
      // times and the 32-way stages' per-task overhead outweighs the
      // tiny per-partition compute (2.5k train docs). The r15 whitelist
      // win did not reproduce; trained/calibration keep theirs (re-paired
      // this round: −0.08 / −0.02 s).
      val docs = tbl(s, dir, "documents")
        .withColumn("__is_en", when(col("lang") === "en", 1).otherwise(0))
      val split = Sampling.hashSplit(docs, col("doc_id"))
      val train = split.where(col("split") === "train")
      val test = split.where(col("split") === "test")
      val w = TextOps.train(train, "__is_en", iters = 3)
      val scored = TextOps.classifyWithWeights(test, w)
        .join(test.select(col("doc_id"), col("__is_en")), Seq("doc_id"))
      scored
        .agg(
          count(lit(1)).as("n_test"),
          coalesce(sum(when(col("n_feats") > 0, 1L).otherwise(0L)), lit(0L))
            .as("n_scored"),
          coalesce(sum(when(col("label") === "keep" && col("__is_en") === 1,
            1L).otherwise(0L)), lit(0L)).as("tp"),
          coalesce(sum(when(col("label") === "keep" && col("__is_en") === 0,
            1L).otherwise(0L)), lit(0L)).as("fp"),
          coalesce(sum(when(col("label") === "drop" && col("__is_en") === 0,
            1L).otherwise(0L)), lit(0L)).as("tn"),
          coalesce(sum(when(col("label") === "drop" && col("__is_en") === 1,
            1L).otherwise(0L)), lit(0L)).as("fn"),
          coalesce(sum(when(col("n_feats") > 0, col("__is_en").cast("long"))
            .otherwise(0L)), lit(0L)).as("__n_en"))
        .select(col("n_test"), col("n_scored"), col("tp"), col("fp"),
          col("tn"), col("fn"),
          when(col("n_scored") > 0,
            round((col("tp") + col("tn")).cast("double") / col("n_scored"), 6)
              + lit(0.0)).as("accuracy"),
          when(col("n_scored") > 0,
            round(greatest(col("__n_en"), col("n_scored") - col("__n_en"))
              .cast("double") / col("n_scored"), 6) + lit(0.0))
            .as("base_rate"))
    },

    // classifier CALIBRATION sweep — the read-out that picks a quality
    // filter's operating point: score the corpus with the one-step
    // weights, then for each keep-fraction f take the exact
    // (1−f)-quantile of the margin distribution as the threshold
    // (percentileLin6 ↔ quantile_cont, the doc_quality_filter parity
    // convention; margins are 6dp doubles already proven engine-equal
    // by doc_classify_trained) and read precision/recall of
    // "keep margin ≥ t" against the is-English label. Two-pass shape:
    // one tiny global quantile agg broadcast back over the scored
    // scan (the ts_mad pattern; at 100 TB swap percentileApprox in) —
    // no global rank window anywhere. Recall's denominator is the
    // positives among SCORED docs (n_feats > 0).
    "doc_classify_calibration" -> { (s, dir) =>
      val docs = ftbl(s, dir, "documents")
        .withColumn("__is_en", when(col("lang") === "en", 1).otherwise(0))
      val w1 = TextOps.trainStep(docs, "__is_en", TextOps.zeroWeights(s))
      // lazily checkpointed: feeds the quantile agg AND the sweep scan
      val scored = TextOps.classifyWithWeights(docs, w1)
        .where(col("n_feats") > 0)
        .join(docs.select(col("doc_id"), col("__is_en")), Seq("doc_id"))
        .select(col("doc_id"), col("margin"), col("__is_en"))
        .localCheckpoint(false)
      // (keep fraction, quantile) as EXACT paired literals on both
      // engines — deriving p = 1−f at runtime would interpolate
      // 0.09999999999999998 into one side only
      val fracs = Seq(0.1 -> 0.9, 0.25 -> 0.75, 0.5 -> 0.5,
        0.75 -> 0.25, 0.9 -> 0.1)
      val thrAggs = fracs.zipWithIndex.map { case ((_, p), i) =>
        Aggs.percentileLin6(col("margin"), p).as(s"__t$i") }
      val cuts = scored.agg(thrAggs.head, thrAggs.tail: _*)
        .select(explode(array(fracs.zipWithIndex.map { case ((f, _), i) =>
          struct(lit(f).as("keep_frac"), col(s"__t$i").as("threshold"))
        }: _*)).as("c"))
        .select(col("c.keep_frac"), col("c.threshold"))
      val kept = col("margin") >= col("threshold")
      scored.crossJoin(broadcast(cuts))
        .groupBy(col("keep_frac"), col("threshold"))
        .agg(count(lit(1)).as("n_scored"),
          sum(when(kept, 1L).otherwise(0L)).as("n_keep"),
          sum(when(kept && col("__is_en") === 1, 1L).otherwise(0L)).as("tp"),
          sum(when(kept && col("__is_en") === 0, 1L).otherwise(0L)).as("fp"),
          sum(col("__is_en").cast("long")).as("__pos"))
        .select(col("keep_frac"), col("threshold"), col("n_scored"),
          col("n_keep"), col("tp"), col("fp"),
          when(col("n_keep") > 0,
            round(col("tp").cast("double") / col("n_keep"), 6) + lit(0.0))
            .as("precision"),
          when(col("__pos") > 0,
            round(col("tp").cast("double") / col("__pos"), 6) + lit(0.0))
            .as("recall"))
    },

    "doc_ccnet_bucket" -> { (s, dir) =>
      TextOps.ccnetBucket(tbl(s, dir, "documents"))
    },

    // DSIR importance resampling score: hashed-ngram log-likelihood
    // ratio of "looks like the English slice" vs the raw corpus —
    // the data-selection weight a targeted pretraining mix samples by
    "doc_dsir" -> { (s, dir) =>
      TextOps.dsir(tbl(s, dir, "documents"), col("lang") === "en")
    },

    "doc_vocab" -> { (s, dir) =>
      TextOps.vocab(tbl(s, dir, "documents"), topK = 50)
    },

    // topic clustering for cluster-balanced curation: spherical k-means
    // over 16-dim hashed token-count vectors (raw counts — cosine is
    // scale-invariant, and integer counts are float-exact, so the
    // whole Lloyd replay is engine-exact with no normalization step);
    // the doc-side twin of emb_kmeans/emb_cluster_sample
    "doc_topic_cluster" -> { (s, dir) =>
      val dim = 16
      // lazily checkpointed: the Lloyd loop re-reads its input THREE
      // times (seed pick and 2 assignment scans; the update aggregates
      // the first assignment scan), and re-deriving this frame re-runs
      // tokenization + 16 token-array filter folds per doc each time —
      // the dominant cost of the whole query at sf10 (r13 verdict #5).
      // Materializing the 16-float vectors once is values-identical and
      // turns the loop into what it is for emb_kmeans: scans over
      // stored vectors.
      // r16 (guide §4): native single-pass featurization — the
      // transform/filter fold hashed every token once PER BUCKET (16x
      // the hash work) through interpreted lambdas; TokenCountVec is
      // one codegen'd pass, parity-spec-pinned bit-identical
      val vecs = ftbl(s, dir, "documents")
        .select(col("doc_id"), TextOps.tokens(col("text")).as("__tk"))
        .where(size(col("__tk")) > 0)
        .select(col("doc_id"),
          org.apache.spark.sql.graft.GraftExpressions
            .token_count_vec(col("__tk"), dim).as("tvec"))
        .localCheckpoint(false)
      Knn.kmeans(vecs, dim, idCol = "doc_id", vecCol = "tvec")
    },

    // Kneser-Ney bigram scoring: the production smoothing upgrade of
    // doc_lm_score (continuation-count backoff, absolute discounting)
    "doc_lm_kn" -> { (s, dir) =>
      TextOps.lmScoreKN(tbl(s, dir, "documents"))
    },

    // first-occurrence n-gram novelty: each doc's marginal
    // contribution under a dedup-aware ingest order — what greedy
    // data-selection ranks by; (hash, id) shuffles, nothing pairwise
    "doc_novelty" -> { (s, dir) =>
      TextOps.novelty(tbl(s, dir, "documents"))
    },

    // corpus distinct-n diversity per source: low distinct-2/3 ratios
    // flag template-generated slices per-doc filters miss
    "doc_distinct_ngrams" -> { (s, dir) =>
      TextOps.distinctNgrams(ftbl(s, dir, "documents"), col("source"))
    },

    // Zipf rank-frequency OLS fit over the vocabulary head — the
    // corpus-health scalar (natural text ~ -1)
    "doc_zipf" -> { (s, dir) =>
      TextOps.zipf(tbl(s, dir, "documents"), topK = 1000)
    },

    // PMI collocations: top adjacent pairs by pointwise mutual
    // information among pairs seen >= 5 times
    "doc_pmi" -> { (s, dir) =>
      TextOps.pmiCollocations(tbl(s, dir, "documents"), minCount = 5,
        topK = 50)
    },

    // tokenizer training's inner loop: corpus-weighted adjacent
    // character-pair counts (the argmax IS the next BPE merge)
    "doc_bpe_step" -> { (s, dir) =>
      TextOps.bpePairs(tbl(s, dir, "documents"), topK = 50)
    },

    "doc_length_quantiles" -> { (s, dir) =>
      val docs = tbl(s, dir, "documents")
        .withColumn("n_tokens", size(TextOps.tokens(col("text"))).cast("long"))
      docs.groupBy("lang").agg(
        Aggs.percentileLin6(col("n_chars"), 0.1).as("p10_chars"),
        Aggs.percentileLin6(col("n_chars"), 0.5).as("p50_chars"),
        Aggs.percentileLin6(col("n_chars"), 0.9).as("p90_chars"),
        Aggs.percentileLin6(col("n_tokens"), 0.5).as("p50_tokens"),
        Aggs.avg6(col("n_tokens")).as("avg_tokens"),
        count(lit(1)).as("n_docs"))
    },

    // every ANN/retrieval query batch below is annQueries' base copy
    "emb_knn_brute" -> { (s, dir) =>
      val emb = tbl(s, dir, "embeddings")
      Knn.bruteTopK(emb, annQueries(emb), EmbDim, 5)
    },

    // MMR diversified rerank of the brute top-20: relevant AND
    // mutually diverse; the greedy loop runs scan-side on a bounded
    // 20-element array per query — never a corpus operation
    "emb_mmr" -> { (s, dir) =>
      val emb = tbl(s, dir, "embeddings")
      Knn.mmrTopK(emb, annQueries(emb), EmbDim)
    },

    "emb_knn_lsh" -> { (s, dir) =>
      val emb = tbl(s, dir, "embeddings")
      Knn.lshTopK(emb, annQueries(emb), EmbDim, 3)
    },

    // max-inner-product retrieval, exact baseline: raw-dot top-5 per
    // query (norm-sensitive scoring — the operator cosine can't express)
    "emb_mips" -> { (s, dir) =>
      val emb = tbl(s, dir, "embeddings")
      Knn.mipsTopK(emb, annQueries(emb), EmbDim, 5)
    },

    // MIPS scale path: norm-augmentation reduction to hyperplane LSH
    // banding over dim+1 coordinates, exact-dot verification
    "emb_mips_lsh" -> { (s, dir) =>
      val emb = tbl(s, dir, "embeddings")
      Knn.mipsLshTopK(emb, annQueries(emb), EmbDim, 3)
    },

    // the eval that keeps the augmented-LSH MIPS honest: recall@3 of
    // emb_mips_lsh against the brute raw-dot ground truth
    "emb_mips_recall" -> { (s, dir) =>
      val emb = tbl(s, dir, "embeddings")
      val q = annQueries(emb)
      val truth = Knn.mipsTopK(emb, q, EmbDim, 3)
        .select("query_id", "neighbor_id").localCheckpoint(false)
      recall(truth, Knn.mipsLshTopK(emb, q, EmbDim, 3))
    },

    "emb_knn_ivf" -> { (s, dir) =>
      val emb = tbl(s, dir, "embeddings")
      Knn.ivfTopK(emb, annQueries(emb), EmbDim, 3)
    },

    // the PERSISTED index: build the cell-partitioned layout ONCE per
    // dataset (process-level cache — build-once/search-repeatedly is
    // the operator's whole point, and the bench's warmup pass pays the
    // build so timed passes measure steady-state search), probe via
    // planning-time partition pruning — bit-identical to emb_knn_ivf
    // (same assignment, same ranking), so it shares that oracle
    "emb_knn_ivf_indexed" -> { (s, dir) =>
      val emb = tbl(s, dir, "embeddings")
      val path = ivfIndexFor(s, dir, emb)
      Knn.searchIvfIndex(s, path, annQueries(emb),
        EmbDim, 3)
    },

    // the LAKE layer under the driver gate (not just ScalaTest): write
    // the events table z-ordered on (user_id, value) with its file
    // manifest, then a manifest-PRUNED key-range read — the oracle is
    // the same predicate over the raw table, so the round trip
    // (clustered rewrite -> stats manifest -> file skipping -> pushed
    // row predicate) must lose or duplicate nothing
    "lake_zorder_read" -> { (s, dir) =>
      Lake.readManifestPruned(s, lakeZFor(s, dir), "user_id", 3L, 12L)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
    },

    // MERGE INTO under the driver gate: commit the even half, upsert
    // (update %10==2 keys, insert %10==1 keys), read the result — the
    // oracle recomputes the expected post-merge content row for row
    // from the raw table, so replace/insert/carry semantics are
    // value-checked, not just spec-asserted
    "lake_merge_read" -> { (s, dir) =>
      Lake.readSnapshot(s, lakeMergeFor(s, dir))
        .select(col("doc_id"), col("text"))
    },

    // the streaming CDC path under the driver gate: two micro-batches
    // through streamMergeInto (within-batch latest-per-key pick,
    // bootstrap, merge) plus the every-2-batches compact+expire
    // maintenance hook — the oracle recomputes the expected post-
    // stream content row for row from the raw table, so the whole
    // chain (seq tiebreak -> bootstrap -> upsert -> compaction ->
    // retention) is value-checked end to end
    "lake_stream_merge_read" -> { (s, dir) =>
      Lake.readSnapshot(s, lakeStreamFor(s, dir))
        .select(col("doc_id"), col("text"))
    },

    // snapshot time travel under the driver gate: two immutable
    // commits (even doc_ids, then odd), read back at v=1 and v=2 —
    // the oracle recomputes each version's membership from the raw
    // table, so commit isolation and bit-stability are value-checked
    "lake_snapshot_read" -> { (s, dir) =>
      val path = lakeSnapFor(s, dir)
      Seq(1, 2).map { v =>
        Lake.readSnapshot(s, path, v)
          .agg(count(lit(1)).as("n_docs"),
            coalesce(sum(length(col("text")).cast("long")), lit(0L))
              .as("sum_chars"))
          .select(lit(v).as("version"), col("n_docs"), col("sum_chars"))
      }.reduce(_ unionByName _)
    },

    // IVF over the LEARNED k-means codebook (one Lloyd update) rather
    // than the every-Nth sample — recall of both centroid sources is
    // measured side by side in emb_ann_recall
    "emb_knn_ivf_learned" -> { (s, dir) =>
      val emb = tbl(s, dir, "embeddings")
      Knn.ivfTopKLearned(emb, annQueries(emb), EmbDim, 3)
    },

    // ANN index quality evaluation: recall@3 of the LSH and IVF scale
    // paths against brute-force ground truth on the same query set —
    // the number that decides whether an approximate index is usable
    // before pointing it at the full corpus. Each leg is the existing
    // operator unchanged; the eval is a left join on (query, neighbor)
    // + one global agg
    "emb_ann_recall" -> { (s, dir) =>
      val emb = tbl(s, dir, "embeddings")
      val q = annQueries(emb)
      // r16: the r15 cells/book/lp15 lazy checkpoints are GONE — the
      // legs share the PLAN objects and AQE's ReuseExchange dedups the
      // identical subtrees at runtime (Knn.ivfCells' documented
      // mechanism), where the four sequential checkpoint
      // materialization barriers serialized the whole eval. Paired A/B
      // (fresh JVMs, both orders): 6.61 vs 7.31 and 6.75 vs 11.21 s;
      // rows eq-checked identical at sf0.01 and oracle-verified. Only
      // the ground truth keeps its checkpoint (it is the left side of
      // the single eval join, consumed once per method tag — cheap and
      // load-bearing for the 8-way explode).
      val truth = bruteTruth(emb, q)
      val cells = Knn.ivfCells(emb, q, EmbDim)
      val book = Knn.pqCodebookLearned(emb, EmbDim)
      val lp15 = Knn.ivfPqTopKLearned(emb, q, EmbDim, 15,
        shared = Some(cells), cb = Some(book))
      // r15 eval shape: ONE recallByMethod join replaces eight
      // separate join+agg legs (each was its own AQE job chain — 85
      // jobs for this query at bench scale)
      val legs: Seq[(String, DataFrame)] = Seq(
        "lsh" -> Knn.lshTopK(emb, q, EmbDim, 3),
        "ivf" -> Knn.ivfTopK(emb, q, EmbDim, 3, shared = Some(cells)),
        "ivf_learned" -> Knn.ivfTopKLearned(emb, q, EmbDim, 3),
        "ivf_pq" -> Knn.ivfPqTopK(emb, q, EmbDim, 3, shared = Some(cells)),
        "ivf_pq_residual" ->
          Knn.ivfPqResidualTopK(emb, q, EmbDim, 3, shared = Some(cells)),
        "ivf_pq_learned" -> lp15.where(col("rank") <= 3),
        "ivf_pq_rerank" -> Knn.exactRerank(emb, q,
          lp15.select("query_id", "neighbor_id"), EmbDim, 3),
        "sq" -> Knn.sqSearchTopK(emb, q, EmbDim, 3))
      recallByMethod(truth, legs)
    },

    // the nProbe dial MEASURED: IVF recall@3 at 1/2/4 probed cells —
    // SURVEY §5 claims the dial, this query is its evidence; the
    // oracle reuses the shared IVF CTEs so index and eval can't drift
    "emb_ivf_probe_curve" -> { (s, dir) =>
      val emb = tbl(s, dir, "embeddings")
      val q = annQueries(emb)
      val truth = bruteTruth(emb, q)
      // r15: the shared-corpus-assignment + single-eval-join reshape
      // was tried and measured SLOWER at bench scale (+0.43 s paired;
      // the checkpoint's row copies cost more than the re-run argmax),
      // so the r14 per-leg shape stays
      Seq(1, 2, 4).map { p =>
          recall(truth, Knn.ivfTopK(emb, q, EmbDim, 3, nProbe = p))
            .select(lit(s"probe_$p").as("method"), col("*"))
        }.reduce(_ unionByName _)
    },

    // the nTables dial MEASURED — the LSH counterpart of the IVF probe
    // curve (recall@3 at 1/2/4 tables): a pair with per-plane agreement
    // p collides with prob 1-(1-p^nPlanes)^nTables, so tables buy
    // recall linearly in shuffle volume; the oracle reuses the SAME
    // absolute-plane-index band family as emb_knn_lsh so the curve and
    // the index cannot drift apart
    "emb_lsh_table_curve" -> { (s, dir) =>
      val emb = tbl(s, dir, "embeddings")
      val q = annQueries(emb)
      val truth = bruteTruth(emb, q)
      // r15: the banded self-join is computed ONCE over all 4 tables
      // with each pair's min colliding table riding the dedup agg —
      // leg t's candidates are exactly min_tb < t (1+2+4 table joins
      // collapsed into one 4-table join); per-leg top-3 windows run
      // over the checkpointed pair frame. One method-tagged eval join
      // replaces the three join+agg legs. Values identical: candidate
      // sets and cosines match lshTopK(nTables = t) pair for pair.
      val cand0 = Knn.lshCandidatesMinTable(emb, q, EmbDim)
        .localCheckpoint(false)
      recallByMethod(truth, Seq(1, 2, 4).map { t =>
        s"tables_$t" -> Knn.topK(cand0.where(col("min_tb") < t), "cos", 3)
      })
    },

    // embedding-compression eval: how much of the full-dim neighbor
    // structure survives truncating vectors to the first d dims
    // (Matryoshka-style storage/compute dial) — recall@3 of dim-32 and
    // dim-16 brute-force cosine against the dim-64 ground truth. The
    // ground truth checkpoints once; each truncated leg scans sliced
    // arrays, so candidate cost shrinks with d
    "emb_dim_tradeoff" -> { (s, dir) =>
      val emb = tbl(s, dir, "embeddings")
      val q = annQueries(emb)
      val truth = bruteTruth(emb, q)
      def cut(df: DataFrame, d: Int): DataFrame =
        df.select(col("vec_id"), slice(col("embedding"), 1, d).as("embedding"))
      // r15: one method-tagged eval join instead of per-leg join+agg
      recallByMethod(truth, Seq(32, 16).map { d =>
        s"dim$d" -> Knn.bruteTopK(cut(emb, d), cut(q, d), d, 3)
      })
    },

    "emb_label_centroid" -> { (s, dir) =>
      Knn.centroids(tbl(s, dir, "embeddings"), "label")
    },

    // snapshot-to-snapshot embedding drift per label (vec_id parity
    // stands in for the two ingest snapshots): centroid cosine + shift
    "emb_drift" -> { (s, dir) =>
      Knn.labelDrift(tbl(s, dir, "embeddings"), col("vec_id") % 2 === 0)
    },

    "emb_kmeans" -> { (s, dir) =>
      Knn.kmeans(tbl(s, dir, "embeddings"), EmbDim)
    },

    // centroid-distance outlier flags: bottom-decile assignment
    // cosines — the curation FILTER next to semdedup's dedup; exact
    // lower-element percentile over 6dp cosines, broadcast back
    "emb_outliers" -> { (s, dir) =>
      Knn.centroidOutliers(tbl(s, dir, "embeddings"), EmbDim)
    },

    // LSH-cell blocking (not label blocking): a label block is
    // O(block^2) pairs at corpus scale; the (table, bucket) cells the
    // ANN index already computes bound the self-join instead, with
    // exact-cosine verification after the bucket match. The plane
    // count AUTO-SIZES from the corpus count (Knn.autoPlanes: smallest
    // p with n >> p <= 125, floor 4) so cell populations stay ~bounded
    // as the corpus grows — the oracle derives the identical count
    // from count(*) in pure integer arithmetic
    "emb_dedup_cosine" -> { (s, dir) =>
      Knn.cosineDupPairsLsh(ftbl(s, dir, "embeddings"), EmbDim, 0.3)
    },

    // the fixed small-corpus geometry (4 planes x 4 tables), kept as
    // its own entry: matches the ANN index's registered cells exactly
    // and pins the auto path's floor-geometry behavior. 4 planes on a
    // LARGE corpus is a declared block² blowup (BENCH_sf1_r09's worst
    // ratio, 4.1x per 10x rows), so above EmbDedupFixedMaxVecs the
    // witness caps to the BASE COPY (vec_id < 1e8 is ScaleUp's
    // unmodified copy 0) — the floor-geometry pin stays pinned at
    // constant cost instead of taxing every full-suite scale run
    "emb_dedup_cosine_fixed" -> { (s, dir) =>
      val emb = ftbl(s, dir, "embeddings")
      val base = if (Parquet.countRows(emb) > EmbDedupFixedMaxVecs)
        emb.where(col("vec_id") < BaseIdMax)
      else emb
      Knn.cosineDupPairsLsh(base, EmbDim, 0.3, nPlanes = 4)
    },

    // SemDeDup: near-dup pairs found only within learned k-means
    // clusters; each pair drops the member closer to its centroid
    // (keep-farthest policy). Cluster population = corpus/k is the
    // bound on the self-join — the other blocking scheme next to
    // emb_dedup_cosine's LSH cells
    "emb_semdedup" -> { (s, dir) =>
      Knn.semDedup(tbl(s, dir, "embeddings"), EmbDim, 0.3)
    },

    // diversity-keeping counterpart of semdedup: per-learned-cluster
    // top-8 by ASCENDING centroid cosine (boundary members kept)
    "emb_cluster_sample" -> { (s, dir) =>
      Knn.clusterSample(tbl(s, dir, "embeddings"), EmbDim, perCluster = 8)
    },

    // kNN graph: every corpus vector's top-3 co-bucketed neighbors
    // (the input to graph-based curation: component clustering,
    // density pruning, label propagation); candidate volume bounded
    // by the auto-sized LSH cell population × tables, never n²
    "emb_knn_graph" -> { (s, dir) =>
      Knn.knnGraph(tbl(s, dir, "embeddings"), EmbDim, 3)
    },

    // PageRank-style centrality over the ANN graph (graph-based data
    // selection: prototypes rank high, tails decay to the 0.15
    // floor): 2 damped power-iteration rounds, per-edge contributions
    // µ-snapped before the dst-keyed sum so both engines fold
    // identically
    "emb_graph_rank" -> { (s, dir) =>
      Knn.graphRank(tbl(s, dir, "embeddings"), EmbDim, 3)
    },

    // greedy farthest-first k-center coreset (Gonzalez 2-approx): the
    // 8 most spread-out vectors plus the coverage-radius curve at each
    // size — the third diversity move next to cluster_sample (per-
    // cluster boundary keep) and semdedup (prototype drop); k corpus
    // scans each ending in TakeOrdered(1), zero shuffle
    "emb_kcenter" -> { (s, dir) =>
      Knn.kCenterSelect(tbl(s, dir, "embeddings"), EmbDim, 8)
    },

    // production k-center: the same greedy over a √n-strided pool
    // materialized once — O(k·√n) instead of k full corpus scans; the
    // exact variant above stays registered as the declared floor
    "emb_kcenter_sampled" -> { (s, dir) =>
      Knn.kCenterSampled(tbl(s, dir, "embeddings"), EmbDim, 8)
    },

    "emb_quantize" -> { (s, dir) =>
      Knn.quantizeInt8(tbl(s, dir, "embeddings"))
    },

    // top principal direction of the centered embedding corpus
    // (distributed power iteration; whitening / all-but-the-top)
    "emb_pca" -> { (s, dir) =>
      Knn.pcaTop(tbl(s, dir, "embeddings"), EmbDim)
    },

    // all-but-the-top (Mu & Viswanath): subtract the mean + the top
    // principal direction's projection — the isotropy fix for cosine
    // retrieval; per-vector removed projection and norm before/after,
    // scan-side against two broadcast 1-row arrays
    "emb_abtt" -> { (s, dir) =>
      Knn.abtt(tbl(s, dir, "embeddings"), EmbDim)
    },

    // diagonal-ZCA whitening — zero-mean/unit-variance per dimension,
    // the third isotropy tool next to emb_pca/emb_abtt; stats are one
    // dim-keyed partial agg broadcast back over the scan, coordinates
    // emitted as exact µ-unit integers so parity cannot drift
    "emb_whiten" -> { (s, dir) =>
      Knn.whiten(tbl(s, dir, "embeddings"), EmbDim)
    },

    "emb_pq" -> { (s, dir) =>
      Knn.pqCodes(tbl(s, dir, "embeddings"), EmbDim)
    },

    // LEARNED per-subspace PQ codebook (one Lloyd update per subspace
    // from the every-Nth seed — the ivf_learned upgrade applied to the
    // product quantizer); same store shape as emb_pq, lower err2
    "emb_pq_learned" -> { (s, dir) =>
      Knn.pqCodesLearned(tbl(s, dir, "embeddings"), EmbDim)
    },

    // variance-balanced dimension permutation before PQ (the OPQ-init
    // heuristic): dims ranked by an exact integer variance key, dealt
    // round-robin across subspaces; same store shape as emb_pq —
    // err2 against emb_pq's is the measured balance payoff
    "emb_pq_permuted" -> { (s, dir) =>
      Knn.pqCodesPermuted(tbl(s, dir, "embeddings"), EmbDim)
    },

    // the codebook dial MEASURED: total/mean quantization distortion
    // (err2) of the three PQ stores over one corpus — sampled,
    // learned (one Lloyd update), and variance-permuted (OPQ-init).
    // Totals fold the stores' 6dp-rounded err2 as exact µ-unit
    // BIGINTs (order-independent), so the 3-row verdict is
    // bit-stable; each leg's reduce output is one row
    "emb_pq_err_curve" -> { (s, dir) =>
      val emb = tbl(s, dir, "embeddings")
      def leg(name: String, store: DataFrame): DataFrame =
        store.agg(count(lit(1)).as("n"),
            sum(round(col("err2") * 1000000.0).cast("long")).as("e6"))
          .select(lit(name).as("variant"), col("n"),
            round(col("e6").cast("double") / 1000000.0, 6).as("err2_total"),
            round(col("e6").cast("double") / 1000000.0
              / col("n").cast("double"), 6).as("err2_avg"))
      leg("pq", Knn.pqCodes(emb, EmbDim))
        .unionByName(leg("pq_learned", Knn.pqCodesLearned(emb, EmbDim)))
        .unionByName(leg("pq_permuted", Knn.pqCodesPermuted(emb, EmbDim)))
    },

    // residual quantization: level 2 codes the level-1 ERROR (additive
    // refinement — the RQ alternative to PQ's subspace partition);
    // both √n codebooks broadcast, each level a broadcast argmin
    "emb_rq" -> { (s, dir) =>
      Knn.rqCodes(tbl(s, dir, "embeddings"), EmbDim)
    },

    // RQ-flat serving: approximate cosine against the c1+c2
    // reconstruction ranks top-15, exact cosine reranks to top-3 —
    // the SQ8 two-stage shape over the additive store
    "emb_rq_search" -> { (s, dir) =>
      val emb = tbl(s, dir, "embeddings")
      Knn.rqSearchTopK(emb,
        annQueries(emb),
        EmbDim, 3)
    },

    // the RQ store's serving quality MEASURED: recall@3 of the
    // rq_search two-stage path vs the brute truth (the emb_mips_recall
    // shape; every index in the suite carries a measured-recall leg)
    "emb_rq_recall" -> { (s, dir) =>
      val emb = tbl(s, dir, "embeddings")
      val q = annQueries(emb)
      val truth = bruteTruth(emb, q)
      recall(truth, Knn.rqSearchTopK(emb, q, EmbDim, 3))
    },

    "emb_ivf_pq" -> { (s, dir) =>
      val emb = tbl(s, dir, "embeddings")
      Knn.ivfPqTopK(emb, annQueries(emb), EmbDim, 3)
    },

    // IVFADC with RESIDUAL encoding (the classic FAISS-style
    // geometry): PQ codes x − c(x) instead of x, the ADC table is
    // rebuilt per probed cell from the query residual — tighter
    // codewords for the same 4-byte/vector budget
    "emb_ivf_pq_residual" -> { (s, dir) =>
      val emb = tbl(s, dir, "embeddings")
      Knn.ivfPqResidualTopK(emb,
        annQueries(emb),
        EmbDim, 3)
    },

    // int8 scalar-quantized flat search + exact rerank: serving
    // against the emb_quantize store (4x scan I/O cut), the SQ
    // counterpart of emb_ivf_pq_rerank's two-stage pattern
    "emb_sq_search" -> { (s, dir) =>
      val emb = tbl(s, dir, "embeddings")
      Knn.sqSearchTopK(emb, annQueries(emb), EmbDim, 3)
    },

    // binary quantization store: 1 sign bit per dim against the
    // round-6 per-dim corpus mean, packed MSB-first into 32-dim BIGINT
    // words — the 32x-compression end of the quantization family
    // (SQ8 / PQ / RQ / binary); candidate scans cost xor+popcount
    "emb_bq" -> { (s, dir) =>
      Knn.bqWords(tbl(s, dir, "embeddings"), EmbDim)
        .select(col("vec_id"), element_at(col("bw"), 1).as("w0"),
          element_at(col("bw"), 2).as("w1"))
    },

    // binary-first serving: Hamming top-15 over the packed words, then
    // exact-cosine rerank to top-3 (the emb_sq_search two-stage shape
    // at 1 bit/dim — the ranking scan reads 8 bytes per corpus vector)
    "emb_bq_search" -> { (s, dir) =>
      val emb = tbl(s, dir, "embeddings")
      Knn.bqSearchTopK(emb, annQueries(emb), EmbDim, 3)
    },

    // the binary path's serving quality MEASURED: recall@3 of the
    // ham-then-rerank two-stage vs the brute truth (every index in the
    // suite carries a measured-recall leg)
    "emb_bq_recall" -> { (s, dir) =>
      val emb = tbl(s, dir, "embeddings")
      val q = annQueries(emb)
      val truth = bruteTruth(emb, q)
      recall(truth, Knn.bqSearchTopK(emb, q, EmbDim, 3))
    },

    // ADC top-15 then exact-cosine rerank to top-3: the two-stage
    // pattern that buys back PQ quantization error while fetching only
    // |Q|*15 true vectors (candidate list broadcast over the scan)
    "emb_ivf_pq_rerank" -> { (s, dir) =>
      val emb = tbl(s, dir, "embeddings")
      Knn.ivfPqRerankTopK(emb, annQueries(emb), EmbDim, 3)
    },

    "mm_meta" -> { (s, dir) =>
      Multimodal.decodeAll(s, tbl(s, dir, "documents")).toDF()
    },

    // content-addressed exact media dedup: sha-256 over payload BYTES,
    // no decode needed — the first gate of a multimodal pipeline
    "mm_dedup" -> { (s, dir) =>
      Multimodal.dedupExact(tbl(s, dir, "documents"))
    },

    // perceptual near-dup pairs off the stub decode's mean-threshold
    // aHash, at the PRODUCTION geometry (64-bit hash, 4 x 16-bit
    // bands): random-candidate floor n²·bands/2^16 sits below corpus
    // size, so candidate volume grows ~linearly with the corpus
    "mm_phash" -> { (s, dir) =>
      Multimodal.phashPairs(s, tbl(s, dir, "documents"))
    },

    // near-dup CLUSTER assignment for media — the production answer to
    // pair explosion (mm_phash's only remaining quadratic term is its
    // pair OUTPUT; the cluster view is linear in docs): connected
    // components over the hamming<=3 pairs, cluster id = component min,
    // the doc_dedup_cluster labeling over phash edges
    "mm_phash_cluster" -> { (s, dir) =>
      val docs = tbl(s, dir, "documents")
      val comp = Dedup.components(Multimodal.phashPairs(s, docs))
      docs.select(col("doc_id"))
        .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
          (col("doc_id") === coalesce(col("cluster_id"), col("doc_id")))
            .as("is_canonical"))
    },

    // the narrow TEST geometry (16-bit hash, 8-bit bands): dense
    // buckets guarantee the hamming-verify stage sees real collision
    // traffic even on a few hundred docs; its n²·2/2^8 candidate
    // floor is super-linear, so it is for small-corpus testing only
    "mm_phash_narrow" -> { (s, dir) =>
      Multimodal.phashPairs(s, tbl(s, dir, "documents"),
        maxHamming = 3, bandBits = 8, nPixels = 16)
    },

    // the PRODUCTION phash geometry (64-bit hash, 4 x 16-bit bands):
    // the random-collision candidate floor drops from n²·bands/2^8 to
    // n²·bands/2^16 — below corpus size — while pigeonhole still
    // guarantees recall to hamming 3. The stub decode is exact-copy
    // perceptual only (a real decoder makes near-copies near), so
    // re-encoded duplicates are PLANTED as payload copies under fresh
    // ids and the banding must surface exactly those pairs out of the
    // 2^16-bucket space
    // (planted ids live at +1e11, clear of every ScaleUp replica
    // range — +1e8 would collide with replica 1's ids)
    "mm_phash_wide" -> { (s, dir) =>
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      val planted = docs.where(col("doc_id") % 50 === 0)
        .withColumn("doc_id", col("doc_id") + lit(PlantedIdOff))
      Multimodal.phashPairs(s, docs.unionByName(planted),
        maxHamming = 3, bandBits = 16, nPixels = 64)
    },

    // banding recall vs exact hamming<=3 over the same hashes — the
    // eval that keeps the candidate generator honest (hashes are a
    // long per doc, so the ground-truth self-join is broadcast).
    // SCALE GATE: the exhaustive truth is O(n²) BY DECLARATION (the
    // only registered super-linear plan, BENCH_sf10_r09 exp 1.26), so
    // above MmPhashEvalMaxDocs the registration AUTO-SWITCHES to the
    // sampled probe harness (O(n·|P|), columns relabeled to match) —
    // no sweep at a bigger sf can pay the quadratic truth by accident;
    // correctness runs (sf0.01) always take the exhaustive branch
    "mm_phash_eval" -> { (s, dir) =>
      val docs = tbl(s, dir, "documents")
      if (Parquet.countRows(docs) > MmPhashEvalMaxDocs)
        mmPhashEvalSampledDf(s, dir).withColumnRenamed("n_hits", "n_found")
      else {
        val ph = Multimodal.phashAll(s, docs).toDF()
        val exact = ph.select(col("doc_id").as("id_a"), col("phash").as("ph_a"))
          .join(broadcast(ph.select(col("doc_id").as("id_b"),
            col("phash").as("ph_b"))), col("id_a") < col("id_b"))
          .where(bit_count(col("ph_a").bitwiseXOR(col("ph_b"))) <= 3)
        exact.agg(count(lit(1)).as("n_true"))
          .crossJoin(Multimodal.phashPairs(s, docs)
            .agg(count(lit(1)).as("n_found")))
          .select(col("n_true"), col("n_found"),
            when(col("n_true") === 0, lit(null).cast("double"))
              .otherwise(round(col("n_found").cast("double") / col("n_true"), 6))
              .as("recall"))
      }
    },

    // the production-scale eval geometry: banding recall measured
    // against a FIXED probe set instead of all O(n²) hash pairs. The
    // probes are planted re-encodes of the base-copy docs (doc_id %
    // 50, pinned < 1e8 so the set is CONSTANT under ScaleUp's
    // +1e8-per-replica id shift; planted ids at +1e11 stay clear of
    // every replica range), so truth = probes × corpus costs
    // O(n·|P|), is guaranteed non-empty (each plant sits at hamming 0
    // from its source), and the recall estimate covers exactly the
    // pairs a production spot-audit would sample. mm_phash_eval keeps
    // the exhaustive truth at test scale and auto-switches to THIS
    // shape beyond MmPhashEvalMaxDocs (see BENCH_sf10_r08.json).
    "mm_phash_eval_sampled" -> ((s, dir) => mmPhashEvalSampledDf(s, dir)),

    // Gopher top-n-gram repetition: per-doc mode found scan-side via
    // sorted-array run lengths — zero shuffle (complements doc_gopher's
    // distinct-ngram rep_2gram with the dominant-phrase signal)
    "doc_repetition" -> { (s, dir) =>
      TextOps.topNgram(tbl(s, dir, "documents"), n = 2)
    },

    // cosine radius query: broadcast queries, zero corpus shuffle, no
    // rank window — the dedup-mining sibling of emb_knn_brute
    "emb_range_search" -> { (s, dir) =>
      val emb = tbl(s, dir, "embeddings")
      Knn.rangeSearch(emb, annQueries(emb), EmbDim, 0.2)
    },

    // the radius query's scale path: candidates from the shared LSH
    // cells (no broadcast, no cross product), exact-cosine verified —
    // recall dial = tables, like the top-k path
    "emb_range_search_lsh" -> { (s, dir) =>
      val emb = ftbl(s, dir, "embeddings")
      Knn.lshRangeSearch(emb, annQueries(emb), EmbDim, 0.2)
    },

    "mm_frames" -> { (s, dir) =>
      Multimodal.sampleFrames(s, tbl(s, dir, "documents"),
        everyKth = MmFramesEveryKth).toDF()
    },

    // sampled-keyframe video near-dup: inverted index on the frame
    // content signature (df-capped like the n-gram chain), overlap =
    // containment so clips inside longer videos still score 1.0. The
    // stub decode is exact-copy perceptual only (like mm_phash), so
    // re-encoded duplicates are PLANTED as payload copies under fresh
    // ids (+1e11, clear of ScaleUp replica ranges) — the signatures
    // must surface exactly those pairs
    "mm_frame_dedup" -> { (s, dir) =>
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      val planted = docs.where(col("doc_id") % 50 === 0 &&
          col("doc_id") < BaseIdMax)
        .withColumn("doc_id", col("doc_id") + lit(PlantedIdOff))
      Multimodal.frameDupPairs(s, docs.unionByName(planted),
        everyKth = MmFramesEveryKth)
    },

    "mm_resize" -> { (s, dir) =>
      Multimodal.resizePlan(s, tbl(s, dir, "documents"))
    },

    // audio near-dup via constellation fingerprints: consecutive
    // window-peak pairs, df-capped inverted index, containment vs the
    // smaller fingerprint set; planted payload copies are the truth
    "mm_audio_dedup" -> { (s, dir) =>
      val docs = tbl(s, dir, "documents").select("doc_id", "text")
      val planted = docs.where(col("doc_id") % 50 === 0 &&
          col("doc_id") < BaseIdMax)
        .withColumn("doc_id", col("doc_id") + lit(PlantedIdOff))
      Multimodal.audioDupPairs(s, docs.unionByName(planted))
    },

    // shot segmentation over the sampled keyframes: cut where the
    // frame content signature changes, scene_id = running cut count
    // (per-video window, <= 4 sampled rows per partition key)
    "mm_scene_cut" -> { (s, dir) =>
      Multimodal.sceneCuts(s, tbl(s, dir, "documents"),
        everyKth = MmFramesEveryKth)
    },

    // audio-modality plumbing: stub PCM decode -> fixed-size analysis
    // windows -> exact integer (energy, peak) per frame
    "mm_audio" -> { (s, dir) =>
      Multimodal.audioFeatures(s, tbl(s, dir, "documents")).toDF()
    },

    "doc_tfidf" -> { (s, dir) =>
      TextOps.tfidf(tbl(s, dir, "documents"), perDoc = 3)
    },

    // Okapi BM25 lexical retrieval: top-10 docs for a fixed query bag
    // (the topic-slice extraction / lexical-baseline ranker)
    "doc_bm25" -> { (s, dir) =>
      TextOps.bm25(tbl(s, dir, "documents"),
        Seq("spark", "query", "join"))
    },

    // hybrid retrieval: reciprocal-rank fusion of the BM25 lexical
    // top-10 and the cosine vector top-10 (rrf = Σ 1/(60+rank)) — the
    // standard two-leg serving stack; both legs keep their own plans
    // (corpus never shuffles), fusion joins two 10-row frames
    "q_hybrid_rrf" -> { (s, dir) =>
      val lex = TextOps.bm25(tbl(s, dir, "documents"),
          Seq("spark", "query", "join"), topK = 10)
        // unpartitioned window = single partition, but over bm25's
        // topK=10 output frame — the "No Partition Defined" warning
        // here is 10 rows, not a scale hazard (audited r12)
        .withColumn("lex_rank", row_number().over(
          Window.orderBy(col("bm25").desc, col("doc_id"))))
        .select(col("doc_id"), col("lex_rank"))
      val emb = tbl(s, dir, "embeddings")
      val vec = Knn.bruteTopK(emb, emb.where(col("vec_id") === 0),
          EmbDim, 10)
        .select(col("neighbor_id").as("doc_id"),
          col("rank").as("vec_rank"))
      lex.join(vec, Seq("doc_id"), "full_outer")
        .withColumn("rrf", round(
          coalesce(lit(1.0) / (lit(60.0) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60.0) + col("vec_rank")), lit(0.0)), 6))
        .orderBy(col("rrf").desc, col("doc_id")).limit(10)
    },

    // Flagship composite: the end-to-end training-data pipeline shape —
    // quality score -> filter -> langid -> exact-dedup canonicalize ->
    // per-language corpus stats. One fused plan: the scans/filters/
    // projections collapse into a single stage before the final agg.
    "doc_pipeline" -> { (s, dir) =>
      val docs = tbl(s, dir, "documents")
      val scored = TextOps.quality(TextOps.langId(docs))
        .where(col("quality") >= 0.3)
      val canonical = Shape.dedup(scored, Seq("text"), "doc_id")
      canonical.groupBy("pred_lang").agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        round(avg(col("quality")), 6).as("avg_quality"))
    },

    // §2 Converter: Event -> IndexedEvent / TimeRangeEvent -> Event
    "ts_convert" -> { (s, dir) =>
      val ev = events(s, dir).where(col("event_type") === "signup")
        .select("event_id", "ts", "value")
      val indexed = Convert.eventToIndexed(ev, "ts", "1h")
      val ranged = Convert.eventToTimeRange(ev, "ts", "10m", "center")
      val back = Convert.timeRangeToEvent(ranged, alignment = "center")
        .withColumnRenamed("ts", "ts_mid")
      indexed.join(ranged, Seq("event_id", "value"))
        .join(back, Seq("event_id", "value"))
        .select("event_id", "idx", "ts_begin", "ts_end", "ts_mid")
    }
  )

  // --- §2.8 oracle SQL (DuckDB), generated from the same constants ----

  /** Rolling hash (fold of acc*31+codepoint mod 1e9+7) — SQL twin of
    * TextOps.polyHash.
    */
  /** One BPE training round as oracle CTEs (see TextOps.bpeTrain):
    * pair counts over bt{r-1}, deterministic argmax, and the same
    * leftmost-non-overlapping merge fold Spark runs (list_reduce with
    * the string accumulator — verified identical semantics).
    */
  private def sqlBpeRound(r: Int): String = {
    val prev = if (r == 1) "bt0" else s"bt${r - 1}"
    s"""bp$r AS (SELECT pr.a AS a, pr.b AS b, CAST(sum(wn) AS BIGINT) AS c
       |  FROM (SELECT wn, unnest(list_transform(
       |      range(1, len(string_split(seq, ' '))),
       |      i -> struct_pack(a := string_split(seq, ' ')[i],
       |        b := string_split(seq, ' ')[i + 1]))) AS pr
       |    FROM $prev) GROUP BY 1, 2),
       |bm$r AS (SELECT a, b, c FROM bp$r ORDER BY c DESC, a, b LIMIT 1),
       |bt$r AS (SELECT w, wn, trim(list_reduce(
       |    list_prepend(' ', string_split(seq, ' ')),
       |    (acc, x) -> CASE WHEN x = m$r.b
       |        AND ends_with(acc, ' ' || m$r.a || ' ')
       |      THEN left(acc, length(acc) - length(m$r.a) - 1) ||
       |        m$r.a || m$r.b || ' '
       |      ELSE acc || x || ' ' END)) AS seq
       |  FROM $prev, bm$r m$r)""".stripMargin
  }

  private def sqlPoly(e: String): String =
    "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(string_split($e, ''), c -> ord(c))), " +
      "(a,b) -> (a*31+b) % 1000000007)"

  private val sqlToks = "list_filter(string_split(text, ' '), t -> len(t) > 0)"

  /** Hashed classifier feature buckets over a `tk` token list — SQL
    * twin of TextOps.featureBuckets (unigram + bigram hashes mod 2^16).
    */
  private def sqlFeatureBuckets: String =
    s"""list_concat(
       |    list_transform(tk, t -> ${sqlPoly("t")} % 65536),
       |    list_transform(
       |      list_transform(range(1, greatest(len(tk)-1, 0) + 1),
       |        i -> array_to_string(list_slice(tk, i, i+1), ' ')),
       |      s -> ${sqlPoly("s")} % 65536))""".stripMargin

  /** One snapped-sigmoid logistic epoch as oracle CTEs: given the
    * sparse weight table `wPrev`(bucket, w) produce m{k}/e{k}/g{k} and
    * the updated `w{k}` — mirrors TextOps.trainStep exactly (6dp
    * margin snap before the sigmoid, µ-int errU, per-feature
    * round(errU/n), w − round(lr·gU/ndocs) with lr = 0.5). Assumes
    * tr(doc_id, y, n) / tx(doc_id, bucket) / nd(ndocs) in scope.
    * Sparse-table equivalence to Spark's dense 65536-row model:
    * buckets outside tx never leave 0 on either engine, and every
    * read goes through coalesce(w, 0). w{k} is MATERIALIZED — it is
    * read by the next epoch's margin AND update (the kcenter CTE
    * inlining lesson).
    */
  private def sqlTrainEpoch(k: Int, wPrev: String): String =
    s"""m$k AS (SELECT tx.doc_id, sum(coalesce(p.w, 0)) AS su
       |  FROM tx LEFT JOIN $wPrev p USING (bucket) GROUP BY tx.doc_id),
       |e$k AS (SELECT tr.doc_id, tr.n,
       |    CAST(round((1.0 / (1.0 + exp(-round(
       |      CAST(m$k.su AS DOUBLE) / 1000000.0 / tr.n, 6))) - tr.y)
       |      * 1000000) AS BIGINT) AS errU
       |  FROM tr JOIN m$k USING (doc_id)),
       |g$k AS (SELECT bucket,
       |    sum(CAST(round(CAST(e$k.errU AS DOUBLE) / e$k.n) AS BIGINT))
       |      AS gU
       |  FROM tx JOIN e$k USING (doc_id) GROUP BY bucket),
       |w$k AS MATERIALIZED (SELECT g$k.bucket,
       |    coalesce(p.w, 0) - CAST(round(0.5 * g$k.gU / ndocs) AS BIGINT)
       |      AS w
       |  FROM g$k LEFT JOIN $wPrev p USING (bucket) CROSS JOIN nd)""".stripMargin

  private def sqlShingles(t: String): String =
    s"list_transform(range(1, greatest(len($t)-2, 0) + 1), " +
      s"i -> array_to_string(list_slice($t, i, i+2), ' '))"

  /** The oracle of [[Dedup.bitBands]]: `src`'s rows once per band,
    * with `band` and `bk` (bits [band·bandBits, (band+1)·bandBits) of
    * the BIGINT `sig`). Arithmetic `>>` and signed `%` match Spark's
    * shiftright / % for negative 64-bit hashes.
    */
  private def sqlBitBands(src: String, sig: String, bandBits: Int,
                          bands: Int): String =
    s"""SELECT s.*, b.band, (s.$sig >> (b.band * $bandBits)) % ${1L << bandBits} AS bk
       |  FROM $src s, (SELECT unnest(range($bands)) AS band) b""".stripMargin

  /** The oracle of [[Dedup.bandPairs]]: CTE `out(id_a, id_b, hamming)`
    * over the doc_id-keyed [[sqlBitBands]] CTE `banded`.
    */
  private def sqlBandPairs(out: String, banded: String, sig: String,
                           maxHamming: Int): String =
    s"""$out AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(bit_count(xor(a.$sig, b.$sig)) AS INTEGER) AS hamming
       |FROM $banded a JOIN $banded b ON a.band = b.band AND a.bk = b.bk
       |  AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.$sig, b.$sig)) <= $maxHamming)""".stripMargin

  /** SimHash banded pairs as CTEs named `pre`… ending in
    * `${pre}pairs(id_a, id_b, hamming)`. `mixes` are the per-token
    * hashes of the token poly hash `p`; mix j votes signature bits
    * [j·bitsPer, (j+1)·bitsPer) from its own low bits. Dedup.simhashPairs
    * is one 31-bit mix voting 24 bits in 3×8 bands
    * ([[sqlSimhashPairCtes]]), Dedup.simhashPairsWide two 30-bit mixes
    * in 4×15 bands ([[sqlSimhashWideCtes]]); every product stays under
    * 2^62, so the arithmetic is plain BIGINT.
    */
  private def sqlSimhashCtes(pre: String, mixes: Seq[String], bitsPer: Int,
                             bandBits: Int, maxHamming: Int): String = {
    val nBits = mixes.size * bitsPer
    val bitSums = (0 until nBits).map { i =>
      s"sum(CASE WHEN (th${i / bitsPer} // ${1L << (i % bitsPer)}) % 2 = 1" +
        s" THEN 1 ELSE -1 END) AS bs$i"
    }.mkString(",\n  ")
    val shExpr = (0 until nBits).map { i =>
      s"(CASE WHEN bs$i > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
    val ths = mixes.zipWithIndex.map { case (m, j) => s"$m AS th$j" }
      .mkString(",\n    ")
    s"""${pre}toks AS (SELECT doc_id, unnest($sqlToks) AS t FROM documents),
       |${pre}tp AS (SELECT doc_id, ${sqlPoly("t")} AS p FROM ${pre}toks),
       |${pre}th AS (SELECT doc_id,
       |    $ths
       |  FROM ${pre}tp),
       |${pre}bits AS (SELECT doc_id, $bitSums FROM ${pre}th GROUP BY doc_id),
       |${pre}sig AS (SELECT doc_id, $shExpr AS simhash FROM ${pre}bits),
       |${pre}bands AS (${sqlBitBands(s"${pre}sig", "simhash", bandBits, nBits / bandBits)}),
       |${sqlBandPairs(s"${pre}pairs", s"${pre}bands", "simhash", maxHamming)}""".stripMargin
  }

  /** [[sqlSimhashCtes]] for Dedup.simhashPairs, ending in `spairs`. */
  private def sqlSimhashPairCtes(maxHamming: Int): String =
    sqlSimhashCtes("s", Seq("(p * 2654435761) % 2147483648"),
      Dedup.SimhashBits, 8, maxHamming)

  /** [[sqlSimhashCtes]] for Dedup.simhashPairsWide, ending in `wpairs`:
    * two 30-bit mixes vote the low/high bit halves.
    */
  private def sqlSimhashWideCtes(maxHamming: Int): String = {
    val m = "((p * 2246822519 + 1013904223) % 1000000007)"
    sqlSimhashCtes("w", Seq("(p * 2654435761) % 1073741824",
      s"($m * $m) % 1000000007"), Dedup.SimhashWideBits / 2, 15, maxHamming)
  }

  /** The oracle of [[Dedup.postingPairs]]: CTEs ending in
    * `postpairs(id_a, id_b, n_shared, n_a, n_b)` over the (doc_id,
    * `key`) postings CTE `src`; n is a doc's posting count before the
    * cap, and `maxDf` keeps the keys held by 2..maxDf docs.
    */
  private def sqlPostingPairs(src: String, key: String,
                              maxDf: Option[Int]): String = {
    val cap = maxDf.fold("") { f =>
      s"""
         |  WHERE a.$key IN (SELECT $key FROM $src GROUP BY $key
         |    HAVING count(*) BETWEEN 2 AND $f)""".stripMargin
    }
    s"""postn AS (SELECT doc_id, count(*) AS n FROM $src GROUP BY doc_id),
       |posts AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    count(*) AS n_shared
       |  FROM $src a JOIN $src b ON a.$key = b.$key AND a.doc_id < b.doc_id$cap
       |  GROUP BY 1, 2),
       |postpairs AS (SELECT id_a, id_b, n_shared, na.n AS n_a, nb.n AS n_b
       |  FROM posts JOIN postn na ON na.doc_id = id_a
       |    JOIN postn nb ON nb.doc_id = id_b)""".stripMargin
  }

  /** The doc_dedup_ngram_jaccard oracle (Dedup.ngramJaccardPairs at
    * J >= 0.5) with posting cap `maxDf`.
    */
  private def sqlNgramJaccard(maxDf: Option[Int]): String =
    s"""WITH $sqlSidsCte,
       |inv AS (SELECT doc_id, unnest(sids) AS sid FROM sids),
       |${sqlPostingPairs("inv", "sid", maxDf)}
       |SELECT id_a, id_b,
       |  round(CAST(n_shared AS DOUBLE) / (n_a + n_b - n_shared), 6) AS jaccard
       |FROM postpairs
       |WHERE CAST(n_shared AS DOUBLE) / (n_a + n_b - n_shared) >= 0.5""".stripMargin

  /** Containment over [[sqlPostingPairs]]: the final SELECT of the
    * frame and audio dedups (Multimodal.overlapPairs).
    */
  private val sqlOverlapSelect =
    """SELECT id_a, id_b, n_shared,
      |  round(CAST(n_shared AS DOUBLE) / least(n_a, n_b), 6) AS overlap
      |FROM postpairs""".stripMargin

  /** doc_id + distinct shingle-hash list, as a CTE body. */
  private val sqlSidsCte =
    s"""toks AS (SELECT doc_id, $sqlToks AS tk FROM documents),
       |sids AS (SELECT doc_id,
       |  list_distinct(list_transform(${sqlShingles("tk")},
       |    s -> ${sqlPoly("s")})) AS sids
       |  FROM toks)""".stripMargin

  /** Bigram-LM scoring chain ending in `lnll` = (doc_id, n_bigrams,
    * lm_nll) — mirrors [[graft.operators.TextOps.lmScore]] exactly
    * (k = 0.5 smoothing, micro-nat snapping before the per-doc sum);
    * shared by doc_lm_score and doc_ccnet_bucket so the two cannot
    * drift.
    */
  private def sqlLmCtes: String =
    s"""ltk AS (SELECT doc_id, $sqlToks AS tk FROM documents),
       |lbg AS (SELECT doc_id, unnest(tk[1:len(tk)-1]) AS w1,
       |    unnest(tk[2:len(tk)]) AS w2 FROM ltk WHERE len(tk) >= 2),
       |lc2 AS (SELECT w1, w2, count(*) AS c2 FROM lbg GROUP BY 1, 2),
       |lc1 AS (SELECT w1, count(*) AS c1 FROM lbg GROUP BY 1),
       |lv AS (SELECT count(DISTINCT t) AS V FROM
       |  (SELECT unnest(tk) AS t FROM ltk)),
       |lterm AS (SELECT doc_id, CAST(round(ln((c2 + 0.5) / (c1 + 0.5 * V))
       |    * 1000000) AS BIGINT) AS tu
       |  FROM lbg JOIN lc2 USING (w1, w2) JOIN lc1 USING (w1), lv),
       |lsc AS (SELECT doc_id, count(*) AS nb, sum(tu) AS su FROM lterm
       |  GROUP BY doc_id),
       |lnll AS (SELECT d.doc_id, coalesce(lsc.nb, 0) AS n_bigrams,
       |    round(-(CAST(su AS DOUBLE)) / 1000000.0 / nb, 6) AS lm_nll
       |  FROM documents d LEFT JOIN lsc ON lsc.doc_id = d.doc_id)""".stripMargin

  /** MinHash-LSH candidate pairs as a CTE chain ending in
    * `pairs(id_a, id_b)` — the SQL twin of Dedup.minhashCandidates,
    * shared by the minhash and cluster oracles.
    */
  private def sqlMinhashCtes: String = {
    val minExprs = Dedup.minhashParams(16).zipWithIndex.map {
      case ((a, b), j) => s"min(($a * sid + $b) % ${Dedup.MinhashP}) AS h$j"
    }.mkString(",\n  ")
    val bandSelects = (0 until 4).map { b =>
      val bk = (1 until 4).foldLeft(s"h${b * 4}") {
        (acc, i) => s"(($acc) * 31 + h${b * 4 + i}) % ${TextOps.HashMod}"
      }
      s"SELECT doc_id, $b AS band, $bk AS bk FROM sigs"
    }.mkString("\nUNION ALL\n")
    s"""$sqlSidsCte,
       |sh AS (SELECT doc_id, unnest(sids) AS sid FROM sids),
       |sigs AS (SELECT doc_id, $minExprs FROM sh GROUP BY doc_id),
       |bands AS ($bandSelects),
       |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bk = b.bk
       |    AND a.doc_id < b.doc_id)""".stripMargin
  }

  private def sqlDotN(a: String, b: String, n: Int): String =
    s"list_reduce(list_prepend(0.0, list_transform(range(1, ${n + 1}), " +
      s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))), (x,y) -> x+y)"

  private def sqlDot(a: String, b: String): String = sqlDotN(a, b, EmbDim)

  private def sqlCosN(a: String, b: String, n: Int): String =
    s"(${sqlDotN(a, b, n)} / (sqrt(${sqlDotN(a, a, n)}) * sqrt(${sqlDotN(b, b, n)})))"

  private def sqlCos(a: String, b: String): String = sqlCosN(a, b, EmbDim)

  /** [[annQueries]]' predicate over the id column `c`. */
  private def sqlAnnQueries(c: String = "vec_id"): String =
    s"$c % $AnnQueryEvery = 0 AND $c < $BaseIdMax"

  /** [[BenchDocs]]' predicate over the id column `c`. */
  private def sqlBenchDocs(c: String = "doc_id"): String =
    s"$c % $BenchDocEvery = 0 AND $c < $BaseIdMax"

  /** The SQL mirror of Knn.topK: `src`'s `cols` plus an INTEGER `rank`
    * numbering each query's rows by `score` (descending, or ascending
    * for a distance), ties on the lower neighbor_id; `k` > 0 keeps
    * ranks <= k.
    */
  private def sqlTopK(src: String, score: String, k: Int = 0,
                      asc: Boolean = false,
                      cols: String = "query_id, neighbor_id"): String =
    s"""SELECT $cols, CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY $score ${if (asc) "ASC" else "DESC"}, neighbor_id)
       |    AS INTEGER) AS rank
       |  FROM $src${if (k > 0) s" QUALIFY rank <= $k" else ""}""".stripMargin

  /** Brute-force top-k CTEs (q, c, bj, brute) over the [[sqlAnnQueries]]
    * batch — the mirror of Knn.bruteTopK (`score` "cos") or
    * Knn.mipsTopK ("ip") — ending in `brute` = (query_id, neighbor_id,
    * `score`, rank <= k): the ANN evals' ground truth.
    */
  private def sqlBruteCtes(k: Int, score: String = "cos"): String = {
    val expr = if (score == "ip") sqlDot("qv", "nv") else sqlCos("qv", "nv")
    s"""q AS (SELECT vec_id AS query_id, embedding AS qv
       |  FROM embeddings WHERE ${sqlAnnQueries()}),
       |c AS (SELECT vec_id AS neighbor_id, embedding AS nv FROM embeddings),
       |bj AS (SELECT query_id, neighbor_id, $expr AS $score
       |  FROM c, q WHERE neighbor_id <> query_id),
       |brute AS (${sqlTopK("bj", score, k, cols = s"query_id, neighbor_id, $score")})""".stripMargin
  }

  /** The oracle twin of [[recall]] / [[recallByMethod]]: per (method,
    * candidate CTE) leg, `truth` left-joined to the leg on `keys` and
    * counted as n_truth / n_hits / recall (NULL on an empty truth). A
    * leg named "" has no method column; `byMethod` groups on the
    * method, so an empty truth yields no row, as recallByMethod does.
    */
  private def sqlRecall(truth: String, legs: Seq[(String, String)],
                        byMethod: Boolean = false,
                        keys: Seq[String] = AnnKeys): String = {
    val on = keys.map(k => s"t.$k = l.$k").mkString(" AND ")
    val hits = s"count(l.${keys.head})"
    legs.map { case (m, leg) =>
      s"""SELECT ${if (m.isEmpty) "" else s"'$m' AS method, "}count(*) AS n_truth,
         |  $hits AS n_hits, CASE WHEN count(*) > 0
         |    THEN round(CAST($hits AS DOUBLE) / count(*), 6) END AS recall
         |FROM $truth t LEFT JOIN $leg l ON $on${if (byMethod) "\nGROUP BY 1" else ""}""".stripMargin
    }.mkString("\nUNION ALL\n")
  }

  private def sqlPlaneDot(v: String, j: Int): String =
    sqlPlaneDotN(v, j, EmbDim)

  private def sqlPlaneDotN(v: String, j: Int, n: Int): String =
    s"list_reduce(list_prepend(0.0, list_transform(range(1, ${n + 1}), " +
      s"i -> CAST($v[i] AS DOUBLE) * CAST((${j + 1} * 73856093 + i * 19349663) " +
      s"% 2000001 - 1000000 AS DOUBLE))), (x,y) -> x+y)"

  private def sqlBucketN(v: String, nPlanes: Int, offset: Int, n: Int): String =
    (0 until nPlanes).map { j =>
      s"(CASE WHEN ${sqlPlaneDotN(v, offset + j, n)} > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  private def sqlBucket(v: String, nPlanes: Int, offset: Int = 0): String =
    (0 until nPlanes).map { j =>
      s"(CASE WHEN ${sqlPlaneDot(v, offset + j)} > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** Greedy k-center replay (emb_kcenter): round i picks the argmin
    * (running-max-cos asc, id asc) among not-yet-selected vectors;
    * the running max chains incrementally through `greatest`, which
    * equals the operator's flat max over the selected set because max
    * over doubles is order-free. k-1 unrolled rounds.
    */
  private def sqlKcenterCtes(k: Int, where: String = ""): String = {
    // Every chain CTE is AS MATERIALIZED: kc0/km{i} are each referenced
    // twice (by kp{i+1} and km{i+1}), and DuckDB inlines plain CTEs, so
    // without materialization the k-step chain expands to ~2^k copies of
    // the base scan — the r12 driver-gate timeout traced to exactly this
    // (emb_kcenter's oracle: 115 s inlined vs 0.7 s materialized at
    // sf0.01, identical rows).
    val b = Seq.newBuilder[String]
    b += s"kc0 AS MATERIALIZED (SELECT vec_id AS id, embedding AS v FROM embeddings$where)"
    b += "kp1 AS MATERIALIZED (SELECT id, v FROM kc0 ORDER BY id LIMIT 1)"
    b += s"""km1 AS MATERIALIZED (SELECT e.id AS id, e.v AS v, ${sqlCos("e.v", "p.v")} AS mc
       |  FROM kc0 e, kp1 p)""".stripMargin
    for (i <- 2 to k) {
      val prevSel = (1 until i).map(j => s"SELECT id FROM kp$j")
        .mkString(" UNION ALL ")
      b += s"""kp$i AS MATERIALIZED (SELECT m.id AS id, m.v AS v, m.mc AS mc FROM km${i - 1} m
         |  WHERE m.id NOT IN ($prevSel)
         |  ORDER BY m.mc ASC, m.id ASC LIMIT 1)""".stripMargin
      if (i < k)
        b += s"""km$i AS MATERIALIZED (SELECT m.id AS id, m.v AS v,
           |    greatest(m.mc, ${sqlCos("m.v", "p.v")}) AS mc
           |  FROM km${i - 1} m, kp$i p)""".stripMargin
    }
    b.result().mkString(",\n")
  }

  /** Power-iteration chain shared by emb_pca / emb_abtt: exact
    * integer micro-sum centering, two unrolled rounds, v re-rounded
    * to 6dp after each normalization — mirrors Knn.pcaTopVec.
    */
  private def sqlPcaCtes: String =
    s"""pd AS (SELECT unnest(range(1, ${EmbDim + 1})) AS i),
       |pmu0 AS (SELECT i,
       |    sum(CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000)
       |      AS BIGINT)) AS su, count(*) AS n
       |  FROM embeddings, pd GROUP BY i),
       |pmu AS (SELECT list(CAST(su AS DOUBLE) / 1000000.0 / n ORDER BY i)
       |  AS mu FROM pmu0),
       |pv0 AS (SELECT list_transform(range(1, ${EmbDim + 1}),
       |  i -> 0.125) AS v),
       |pc1 AS (SELECT list_transform(range(1, ${EmbDim + 1}),
       |    i -> CAST(embedding[i] AS DOUBLE) - mu[i]) AS xc
       |  FROM embeddings, pmu),
       |ps1 AS (SELECT xc, ${sqlDot("xc", "v")} AS s FROM pc1, pv0),
       |pu1x AS (SELECT i, sum(CAST(round(s * xc[i] * 1000000) AS BIGINT))
       |    AS su FROM ps1, pd GROUP BY i),
       |pu1 AS (SELECT list(CAST(su AS DOUBLE) / 1000000.0 ORDER BY i)
       |  AS u FROM pu1x),
       |pn1 AS (SELECT sqrt(list_reduce(list_prepend(0.0,
       |    list_transform(u, x -> x * x)), (a, b) -> a + b)) AS nr, u
       |  FROM pu1),
       |pv1 AS (SELECT list_transform(u, x -> round(x / nr, 6) + 0.0) AS v
       |  FROM pn1),
       |ps2 AS (SELECT xc, ${sqlDot("xc", "v")} AS s FROM pc1, pv1),
       |pu2x AS (SELECT i, sum(CAST(round(s * xc[i] * 1000000) AS BIGINT))
       |    AS su FROM ps2, pd GROUP BY i),
       |pu2 AS (SELECT list(CAST(su AS DOUBLE) / 1000000.0 ORDER BY i)
       |  AS u FROM pu2x),
       |pn2 AS (SELECT sqrt(list_reduce(list_prepend(0.0,
       |    list_transform(u, x -> x * x)), (a, b) -> a + b)) AS nr, u
       |  FROM pu2),
       |pv2 AS (SELECT list_transform(u, x -> round(x / nr, 6) + 0.0) AS v
       |  FROM pn2)""".stripMargin

  /** Binary-quantization chain shared by emb_bq / emb_bq_search /
    * emb_bq_recall: per-dim round-6 corpus means, MSB-first 32-bit
    * sign-word packing (DuckDB's list_reduce seeds the fold with the
    * FIRST element — 0*2+b1 = b1, so it equals Spark's from-zero
    * fold), integer-exact Hamming candidate ranking, exact-cosine
    * rerank.
    */
  private def sqlBqCtes: String = {
    val words = (0 until EmbDim / 32).mkString(", ")
    val ham = (1 to EmbDim / 32)
      .map(w => s"bit_count(xor(nbw[$w], qbw[$w]))").mkString(" + ")
    s"""bqdd AS (SELECT i FROM range(1, ${EmbDim + 1}) t(i)),
       |bqm AS (SELECT i, round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS m
       |  FROM embeddings, bqdd GROUP BY i),
       |bqar AS (SELECT list(m ORDER BY i) AS mns FROM bqm),
       |bqc AS (SELECT vec_id AS neighbor_id, embedding AS nv,
       |    list_transform([$words], w -> list_reduce(
       |      list_transform(range(1, 33), j -> CASE WHEN
       |        CAST(embedding[w*32 + j] AS DOUBLE) > mns[w*32 + j]
       |        THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END),
       |      (a, b) -> a*2 + b)) AS nbw
       |  FROM embeddings, bqar),
       |bqq AS (SELECT neighbor_id AS query_id, nv AS qv, nbw AS qbw
       |  FROM bqc WHERE ${sqlAnnQueries("neighbor_id")}),
       |bqj AS (SELECT query_id, neighbor_id, qv, nv,
       |    CAST($ham AS BIGINT) AS ham
       |  FROM bqc, bqq WHERE neighbor_id <> query_id),
       |bqrk AS (${sqlTopK("bqj", "ham", 15, asc = true,
                   cols = "query_id, neighbor_id, qv, nv, ham")}),
       |bqrr AS (SELECT query_id, neighbor_id, ham, ${sqlCos("qv", "nv")} AS cos
       |  FROM bqrk),
       |bqfin AS (${sqlTopK("bqrr", "cos", cols = "query_id, neighbor_id, ham, cos")})""".stripMargin
  }

  /** SQ8 two-stage search as CTEs ending in `sqfin` = (query_id,
    * neighbor_id, cos, rank) after the exact-cosine rerank of the
    * dequantized-cosine top-15 — the SQL twin of Knn.sqSearchTopK,
    * shared by emb_sq_search and emb_ann_recall's sq leg so the eval
    * cannot drift from the index it measures.
    */
  private def sqlSqCtes: String =
    s"""sqdd AS (SELECT i FROM range(1, ${EmbDim + 1}) t(i)),
       |sqst AS (SELECT i, min(CAST(embedding[i] AS DOUBLE)) AS mn,
       |    max(CAST(embedding[i] AS DOUBLE)) AS mx
       |  FROM embeddings, sqdd GROUP BY i),
       |sqar AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs
       |  FROM sqst),
       |sqc AS (SELECT vec_id AS neighbor_id, embedding AS nv,
       |    list_transform(embedding, (x, i) ->
       |      mns[i] + CAST(CASE WHEN mxs[i] = mns[i] THEN 0
       |        ELSE CAST(floor((CAST(x AS DOUBLE) - mns[i])
       |          / (mxs[i] - mns[i]) * CAST(255.0 AS DOUBLE)) AS INTEGER)
       |        END AS DOUBLE) / 255.0 * (mxs[i] - mns[i])) AS dv
       |  FROM embeddings, sqar),
       |sqq AS (SELECT vec_id AS query_id, embedding AS qv
       |    FROM embeddings WHERE ${sqlAnnQueries()}),
       |sqj AS (SELECT query_id, neighbor_id, qv, nv,
       |    ${sqlDot("qv", "dv")}
       |      / (sqrt(${sqlDot("qv", "qv")}) * sqrt(${sqlDot("dv", "dv")}))
       |      AS acos_
       |  FROM sqc, sqq WHERE neighbor_id <> query_id),
       |sqrk AS (${sqlTopK("sqj", "acos_", 15, cols = "query_id, neighbor_id, qv, nv")}),
       |sqrr AS (SELECT query_id, neighbor_id, ${sqlCos("qv", "nv")} AS cos
       |  FROM sqrk),
       |sqfin AS (${sqlTopK("sqrr", "cos", cols = "query_id, neighbor_id, cos")})""".stripMargin

  /** One unrolled Lloyd round as CTEs (kv/kc0/ka1/ke1/km1/kc1) ending
    * in `kc1` = the learned codebook after one centroid update —
    * shared VERBATIM by emb_kmeans, emb_knn_ivf_learned and
    * emb_ann_recall's learned leg so the codebook every consumer sees
    * is identical. Mirrors Knn.lloyd (√n-auto-strided seeding — the
    * same [[sqlCoarseEvery]] formula the IVF/PQ/RQ oracles use —
    * max-cosine assignment with min-cid tie-break, 6dp-rounded
    * centroid means).
    */
  private def sqlKmeansAssign(centsCte: String): String =
    s"""SELECT vid, cid, cos FROM (SELECT kv.vid, c.cid,
       |    ${sqlCos("kv.v", "c.cvec")} AS cos,
       |    row_number() OVER (PARTITION BY kv.vid
       |      ORDER BY ${sqlCos("kv.v", "c.cvec")} DESC, c.cid) AS rn
       |  FROM kv, $centsCte c) WHERE rn = 1""".stripMargin

  private def sqlKmeansCtes: String =
    s"""kv AS (SELECT vec_id AS vid, embedding AS v FROM embeddings),
       |kc0 AS (SELECT vec_id AS cid,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
       |  FROM embeddings WHERE vec_id % $sqlCoarseEvery = (1 % $sqlCoarseEvery)),
       |ka1 AS (${sqlKmeansAssign("kc0")}),
       |ke1 AS (SELECT ka1.cid, unnest(range(1, ${EmbDim + 1})) AS dim,
       |    unnest(list_transform(kv.v, x -> CAST(x AS DOUBLE))) AS x
       |  FROM ka1 JOIN kv ON kv.vid = ka1.vid),
       |km1 AS (SELECT cid, dim, round(avg(x), 6) AS c FROM ke1
       |  GROUP BY cid, dim),
       |kc1 AS (SELECT cid, list(c ORDER BY dim) AS cvec FROM km1
       |  GROUP BY cid)""".stripMargin

  /** Learned-codebook IVF coarse-quantizer CTEs (klc/klcell/kqcell) —
    * the kc1 codebook in the [[sqlIvfCtes]] cell-assignment shape;
    * shared by emb_knn_ivf_learned and emb_ann_recall's learned leg.
    */
  private def sqlIvfLearnedCtes: String =
    s"""$sqlKmeansCtes,
       |klc AS (SELECT cid, cvec, sqrt(${sqlDot("cvec", "cvec")}) AS cn
       |  FROM kc1),
       |klc0 AS (SELECT vec_id AS neighbor_id, embedding AS nv,
       |    sqrt(${sqlDot("embedding", "embedding")}) AS nn FROM embeddings),
       |kla AS (SELECT neighbor_id, nv, nn, cid,
       |    row_number() OVER (PARTITION BY neighbor_id
       |      ORDER BY ${sqlDot("nv", "cvec")} / (nn * cn) DESC, cid) AS crk
       |  FROM klc0, klc),
       |klcell AS (SELECT neighbor_id, nv, nn, cid FROM kla WHERE crk <= 1),
       |klq0 AS (SELECT vec_id AS query_id, embedding AS qv,
       |    sqrt(${sqlDot("embedding", "embedding")}) AS qn
       |  FROM embeddings WHERE ${sqlAnnQueries()}),
       |klqa AS (SELECT query_id, qv, qn, cid,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY ${sqlDot("qv", "cvec")} / (qn * cn) DESC, cid) AS crk
       |  FROM klq0, klc),
       |kqcell AS (SELECT query_id, qv, qn, cid FROM klqa WHERE crk <= 2)""".stripMargin

  /** The IVF candidate pairs (probed-cell co-residents): consumed by
    * both ADC chains ([[sqlIvfPqAdcCtes]], [[sqlPqLearnedAdcCtes]]);
    * needs ccell/qcell from [[sqlIvfCtes]].
    */
  private def sqlIvfCandCte: String =
    s"""cand AS (SELECT query_id, neighbor_id
       |  FROM ccell JOIN qcell USING (cid)
       |  WHERE neighbor_id <> query_id)""".stripMargin

  /** IVF-PQ ADC chain (pc/sub/codes0/codes/dtab/sc/r) ending in
    * `r` = candidates ranked per query by the ADC fold over the
    * SAMPLED codebook — consumed by emb_ivf_pq (rank <= 3 direct) and
    * emb_ann_recall's ivf_pq leg. Consumes q0/[[sqlIvfCandCte]]'s
    * cand, which must precede it in the WITH chain.
    */
  private def sqlIvfPqAdcCtes: String =
    s"""pc AS (SELECT vec_id AS pcid, embedding AS pcvec
       |  FROM embeddings WHERE vec_id % $sqlPqEvery = (1 % $sqlPqEvery)),
       |sub AS (SELECT unnest(range(4)) AS s),
       |codes0 AS (SELECT e.vec_id AS neighbor_id, sub.s, pc.pcid,
       |    ${sqlSubL2("e.embedding", "pc.pcvec", "sub.s")} AS dist
       |  FROM embeddings e, pc, sub),
       |codes AS (SELECT neighbor_id, s, pcid FROM (
       |    SELECT neighbor_id, s, pcid, row_number() OVER (
       |      PARTITION BY neighbor_id, s ORDER BY dist, pcid) AS rn
       |    FROM codes0) WHERE rn = 1),
       |dtab AS (SELECT q0.query_id, sub.s, pc.pcid,
       |    ${sqlSubL2("q0.qv", "pc.pcvec", "sub.s")} AS d
       |  FROM q0, pc, sub),
       |sc AS (SELECT c.query_id, c.neighbor_id,
       |    list_reduce(list_prepend(0.0, list(t.d ORDER BY k.s)),
       |      (x, y) -> x + y) AS adist
       |  FROM cand c
       |  JOIN codes k ON k.neighbor_id = c.neighbor_id
       |  JOIN dtab t ON t.query_id = c.query_id AND t.s = k.s
       |    AND t.pcid = k.pcid
       |  GROUP BY 1, 2),
       |r AS (${sqlTopK("sc", "adist", asc = true,
              cols = "query_id, neighbor_id, adist")})""".stripMargin

  /** ANN-graph chain (gpop/gsalt/g0/g1/g2) ending in `g2` = the
    * salted, two-stage-ranked kNN edges (rank <= k filter applied by
    * the consumer) — mirrors Knn.knnGraph's hub-cell salting exactly.
    * Shared VERBATIM by the emb_knn_graph oracle and emb_graph_rank's
    * edge set so the graph and its centrality eval cannot drift.
    */
  private def sqlKnnGraphCtes: String =
    s"""$sqlAutoLshBandCte,
       |gpop AS (SELECT tb, bk, count(*) AS pop FROM alb GROUP BY 1, 2),
       |gsalt AS (SELECT a.vec_id, a.tb, a.bk,
       |    ((a.vec_id % 1048573) * 2654435761)
       |      % ((p.pop + 499) // 500) AS salt
       |  FROM alb a JOIN gpop p ON p.tb = a.tb AND p.bk = a.bk),
       |g0 AS (SELECT a.vec_id AS src, b.vec_id AS dst
       |  FROM gsalt a JOIN gsalt b ON a.tb = b.tb AND a.bk = b.bk
       |    AND a.salt = b.salt AND a.vec_id <> b.vec_id),
       |g1 AS (SELECT src, dst,
       |    max(${sqlCos("ea.embedding", "eb.embedding")}) AS cos
       |  FROM g0 JOIN embeddings ea ON ea.vec_id = g0.src
       |    JOIN embeddings eb ON eb.vec_id = g0.dst
       |  GROUP BY 1, 2),
       |g2 AS (SELECT src, dst, cos, CAST(row_number() OVER (
       |    PARTITION BY src ORDER BY cos DESC, dst) AS INTEGER) AS rank
       |  FROM g1)""".stripMargin

  /** Residual-IVFADC chain (rcv/rcres/rbook/rcodes/rqres/rdtab/rcand/
    * rsc/rr) ending in `rr` = candidates ranked per query by the ADC
    * fold over the RESIDUAL codebook — mirrors Knn.ivfPqResidualTopK:
    * corpus residuals off the shared coarse cells, codebook = the
    * residuals of ids ≡ 0 mod pqEvery (offset stride), query residual
    * per probed cell, ADC join keyed on the candidate's own cell.
    * Needs cents/ccell/qcell from [[sqlIvfCtes]]. Shared VERBATIM by
    * the emb_ivf_pq_residual oracle and emb_ann_recall's
    * ivf_pq_residual leg so the index and its eval cannot drift.
    */
  private def sqlIvfPqResidualCtes: String =
    s"""rcv AS (SELECT cid,
       |    list_transform(cvec, x -> CAST(x AS DOUBLE)) AS cvd
       |  FROM cents),
       |rcres AS (SELECT c.neighbor_id, c.cid,
       |    list_transform(range(1, ${EmbDim + 1}),
       |      i -> CAST(c.nv[i] AS DOUBLE) - r.cvd[i]) AS rv
       |  FROM ccell c JOIN rcv r USING (cid)),
       |rbook AS (SELECT neighbor_id AS pcid, rv AS pcv FROM rcres
       |  WHERE neighbor_id % $sqlPqEvery = 0),
       |rsub AS (SELECT unnest(range(4)) AS s),
       |rcode0 AS (SELECT e.neighbor_id, s.s, b.pcid,
       |    ${sqlSubL2("e.rv", "b.pcv", "s.s")} AS dist
       |  FROM rcres e, rbook b, rsub s),
       |rcodes AS (SELECT neighbor_id, s, pcid FROM (
       |    SELECT neighbor_id, s, pcid, row_number() OVER (
       |      PARTITION BY neighbor_id, s ORDER BY dist, pcid) AS rn
       |    FROM rcode0) WHERE rn = 1),
       |rqres AS (SELECT q.query_id, q.cid,
       |    list_transform(range(1, ${EmbDim + 1}),
       |      i -> CAST(q.qv[i] AS DOUBLE) - r.cvd[i]) AS qrv
       |  FROM qcell q JOIN rcv r USING (cid)),
       |rdtab AS (SELECT q.query_id, q.cid, s.s, b.pcid,
       |    ${sqlSubL2("q.qrv", "b.pcv", "s.s")} AS d
       |  FROM rqres q, rbook b, rsub s),
       |rcand AS (SELECT q.query_id, c.neighbor_id, c.cid
       |  FROM ccell c JOIN qcell q USING (cid)
       |  WHERE c.neighbor_id <> q.query_id),
       |rsc AS (SELECT c.query_id, c.neighbor_id,
       |    list_reduce(list_prepend(0.0, list(t.d ORDER BY k.s)),
       |      (x, y) -> x + y) AS adist
       |  FROM rcand c
       |  JOIN rcodes k ON k.neighbor_id = c.neighbor_id
       |  JOIN rdtab t ON t.query_id = c.query_id AND t.cid = c.cid
       |    AND t.s = k.s AND t.pcid = k.pcid
       |  GROUP BY 1, 2),
       |rr AS (${sqlTopK("rsc", "adist", asc = true,
               cols = "query_id, neighbor_id, adist")})""".stripMargin

  /** The SAMPLED-codebook PQ store as a complete statement
    * (vec_id, codes CSV, err2) — the emb_pq oracle, and one arm of
    * emb_pq_err_curve's distortion dial (shared verbatim so the store
    * and its eval cannot drift).
    */
  private def sqlPqStoreSql: String =
    s"""WITH cents AS (SELECT vec_id AS cid, embedding AS cvec
       |    FROM embeddings WHERE vec_id % $sqlPqEvery = (1 % $sqlPqEvery)),
       |p AS (SELECT e.vec_id, s.s, c.cid,
       |    ${sqlSubL2("e.embedding", "c.cvec", "s.s")} AS dist
       |  FROM embeddings e, cents c,
       |    (SELECT unnest(range(4)) AS s) s),
       |r AS (SELECT vec_id, s, cid, dist, row_number() OVER (
       |    PARTITION BY vec_id, s ORDER BY dist, cid) AS rn FROM p)
       |SELECT vec_id,
       |  string_agg(CAST(cid AS VARCHAR), ',' ORDER BY s) AS codes,
       |  round(list_reduce(list_prepend(0.0, list(dist ORDER BY s)),
       |    (x, y) -> x + y), 6) AS err2
       |FROM r WHERE rn = 1 GROUP BY vec_id""".stripMargin

  /** The LEARNED-codebook PQ store as a complete statement — the
    * emb_pq_learned oracle and emb_pq_err_curve's second arm.
    */
  private def sqlPqLearnedStoreSql: String =
    s"""WITH $sqlPqLearnedCtes
       |SELECT vec_id,
       |  string_agg(CAST(cid AS VARCHAR), ',' ORDER BY s) AS codes,
       |  round(list_reduce(list_prepend(0.0, list(dist ORDER BY s)),
       |    (x, y) -> x + y), 6) AS err2
       |FROM lpr WHERE rn = 1 GROUP BY vec_id""".stripMargin

  /** The variance-PERMUTED PQ store as a complete statement (the
    * exact integer variance key ranks dims, round-robin deal, then
    * the sampled-PQ chain over the permuted vectors) — the
    * emb_pq_permuted oracle and emb_pq_err_curve's third arm.
    */
  private def sqlPqPermutedStoreSql: String =
    s"""WITH pstat AS (SELECT i,
       |    SUM(CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000)
       |      AS BIGINT)) AS s1,
       |    SUM(CAST(round(CAST(embedding[i] AS DOUBLE)
       |      * CAST(embedding[i] AS DOUBLE) * 1000000)
       |      AS BIGINT)) AS s2,
       |    count(*) AS n
       |  FROM embeddings, range(1, ${EmbDim + 1}) t(i) GROUP BY i),
       |pkey AS (SELECT i,
       |    CAST(s2 AS DECIMAL(38,0)) * n * 1000000
       |      - CAST(s1 AS DECIMAL(38,0)) * s1 AS vkey
       |  FROM pstat),
       |prnk AS (SELECT i, row_number() OVER (ORDER BY vkey DESC, i) AS r
       |  FROM pkey),
       |pperm AS (SELECT ((r - 1) % 4) * ${EmbDim / 4} + (r - 1) // 4 + 1
       |    AS pos, i AS src FROM prnk),
       |parr AS (SELECT list(src ORDER BY pos) AS pm FROM pperm),
       |pemb AS (SELECT vec_id,
       |    list_transform(range(1, ${EmbDim + 1}), j -> embedding[pm[j]])
       |      AS pv
       |  FROM embeddings, parr),
       |cents AS (SELECT vec_id AS cid, pv AS cvec FROM pemb
       |  WHERE vec_id % $sqlPqEvery = (1 % $sqlPqEvery)),
       |p AS (SELECT e.vec_id, s.s, c.cid,
       |    ${sqlSubL2("e.pv", "c.cvec", "s.s")} AS dist
       |  FROM pemb e, cents c,
       |    (SELECT unnest(range(4)) AS s) s),
       |r AS (SELECT vec_id, s, cid, dist, row_number() OVER (
       |    PARTITION BY vec_id, s ORDER BY dist, cid) AS rn FROM p)
       |SELECT vec_id,
       |  string_agg(CAST(cid AS VARCHAR), ',' ORDER BY s) AS codes,
       |  round(list_reduce(list_prepend(0.0, list(dist ORDER BY s)),
       |    (x, y) -> x + y), 6) AS err2
       |FROM r WHERE rn = 1 GROUP BY vec_id""".stripMargin

  /** LEARNED-PQ codebook + corpus-assignment CTEs — mirrors
    * Knn.pqCodebookLearned / pqAssignLearned exactly: seed codewords
    * from the every-Nth corpus sample (vec_id % N = 1, the same
    * [[sqlPqEvery]] stride as the sampled PQ), assign every (vector,
    * subspace) to its nearest seed (squared sub-L2, min-cid tie-break),
    * move each codeword to its cell's per-dim mean rounded to 6dp (the
    * kmeans convention both engines replay identically), then re-assign
    * the corpus against the learned book. Ends in `lpcb` (s, cid, cs)
    * and `lpr` (vec_id, s, cid, dist, rn; rn = 1 is the code). Shared
    * VERBATIM by the emb_pq_learned oracle and emb_ann_recall's
    * ivf_pq_learned leg so the store and its eval cannot drift.
    */
  private def sqlPqLearnedCtes: String =
    s"""lpseed AS (SELECT vec_id AS cid, embedding AS cvec
       |  FROM embeddings WHERE vec_id % $sqlPqEvery = (1 % $sqlPqEvery)),
       |lpsub AS (SELECT unnest(range(4)) AS s),
       |lpa0 AS (SELECT e.vec_id, s.s, c.cid,
       |    ${sqlSubL2("e.embedding", "c.cvec", "s.s")} AS dist
       |  FROM embeddings e, lpseed c, lpsub s),
       |lpa1 AS (SELECT vec_id, s, cid FROM (
       |    SELECT vec_id, s, cid, row_number() OVER (
       |      PARTITION BY vec_id, s ORDER BY dist, cid) AS rn FROM lpa0)
       |  WHERE rn = 1),
       |lpe AS (SELECT a.s, a.cid, unnest(range(1, 17)) AS pos,
       |    unnest(list_transform(range(a.s * 16 + 1, a.s * 16 + 17),
       |      i -> CAST(e.embedding[i] AS DOUBLE))) AS x
       |  FROM lpa1 a JOIN embeddings e ON e.vec_id = a.vec_id),
       |lpm AS (SELECT s, cid, pos, round(avg(x), 6) AS c FROM lpe
       |  GROUP BY s, cid, pos),
       |lpcb AS (SELECT s, cid, list(c ORDER BY pos) AS cs FROM lpm
       |  GROUP BY s, cid),
       |lpd AS (SELECT e.vec_id, b.s, b.cid,
       |    ${sqlSubL2Lrn("e.embedding", "b.s", "b.cs")} AS dist
       |  FROM embeddings e, lpcb b),
       |lpr AS (SELECT vec_id, s, cid, dist, row_number() OVER (
       |    PARTITION BY vec_id, s ORDER BY dist, cid) AS rn FROM lpd)""".stripMargin

  /** Learned-codebook ADC ranking (lpcode/lpdtab/lpsc/lpfin) — the
    * [[sqlIvfPqAdcCtes]] shape over [[sqlPqLearnedCtes]]' book:
    * `lpfin` = candidates ranked per query by the learned-ADC fold.
    * Consumed by emb_ann_recall's ivf_pq_learned leg AND (rank <= 15)
    * by the emb_ivf_pq_rerank candidate stage, mirroring
    * Knn.ivfPqRerankTopK's switch to learned candidates. Needs q0 from
    * [[sqlIvfCtes]], cand from [[sqlIvfCandCte]], lpcb/lpr from
    * [[sqlPqLearnedCtes]].
    */
  private def sqlPqLearnedAdcCtes: String =
    s"""lpcode AS (SELECT vec_id AS neighbor_id, s, cid AS pcid FROM lpr
       |  WHERE rn = 1),
       |lpdtab AS (SELECT q0.query_id, b.s, b.cid AS pcid,
       |    ${sqlSubL2Lrn("q0.qv", "b.s", "b.cs")} AS d
       |  FROM q0, lpcb b),
       |lpsc AS (SELECT c.query_id, c.neighbor_id,
       |    list_reduce(list_prepend(0.0, list(t.d ORDER BY k.s)),
       |      (x, y) -> x + y) AS adist
       |  FROM cand c
       |  JOIN lpcode k ON k.neighbor_id = c.neighbor_id
       |  JOIN lpdtab t ON t.query_id = c.query_id AND t.s = k.s
       |    AND t.pcid = k.pcid
       |  GROUP BY 1, 2),
       |lpfin AS (${sqlTopK("lpsc", "adist", asc = true)})""".stripMargin

  /** Quality-score CTEs ending in `qual` (doc_id, n_tokens,
    * avg_token_len, punct_ratio, digit_ratio, stop_ratio, quality) —
    * shared by doc_quality and doc_quality_filter so the filter's
    * threshold applies to exactly the score the scorer emits. Mirrors
    * TextOps.quality.
    */
  private def sqlQualityCtes: String = {
    val stopEn = TextOps.StopEn.map(w => s"'$w'").mkString(", ")
    s"""t AS (SELECT doc_id, text, $sqlToks AS tk,
       |  CAST(length(text) AS DOUBLE) AS nc,
       |  CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
       |    AS DOUBLE) AS np,
       |  CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
       |    AS DOUBLE) AS nd
       |  FROM documents),
       |t2 AS (SELECT doc_id, nc, np, nd, len(tk) AS ntk,
       |  len(list_filter(tk, x -> list_contains([$stopEn], x))) AS nstop
       |  FROM t),
       |qual AS (SELECT doc_id, CAST(ntk AS BIGINT) AS n_tokens,
       |  round((nc - (ntk - 1)) / ntk, 6) AS avg_token_len,
       |  round(np / nc, 6) AS punct_ratio,
       |  round(nd / nc, 6) AS digit_ratio,
       |  round(CAST(nstop AS DOUBLE) / ntk, 6) AS stop_ratio,
       |  round(least(1.0, greatest(0.0,
       |    0.2 + 0.05 * ((nc - (ntk - 1)) / ntk) - 2.0 * (np / nc)
       |      - 1.0 * (nd / nc) + 0.5 * (CAST(nstop AS DOUBLE) / ntk))), 6)
       |    AS quality
       |FROM t2)""".stripMargin
  }

  /** PQ subspace squared-L2 fold over 1-based dims [16s+1, 16s+16]
    * (EmbDim/4 = 16-wide subspaces); `s` is the caller's subspace
    * column reference. DuckDB range(a,b) is b-exclusive, matching
    * Spark's inclusive sequence bounds.
    */
  private def sqlSubL2(a: String, b: String, s: String): String =
    s"list_reduce(list_prepend(0.0, list_transform(" +
      s"range($s * 16 + 1, $s * 16 + 17), " +
      s"i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) " +
      s"* (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)))), " +
      "(x, y) -> x + y)"

  /** [[sqlSubL2]] against a LEARNED codeword: the corpus side `a` is a
    * full float vector indexed at subspace `s`'s offset, the codebook
    * side `cs` is a 16-wide DOUBLE codeword (the per-cell mean, already
    * 6dp-rounded) indexed 1..16 — mirrors Knn.pqAssignLearned's
    * vec_sub_l2_d(sv, cs, 0, 16) over the double-cast slice.
    */
  private def sqlSubL2Lrn(a: String, s: String, cs: String): String =
    s"list_reduce(list_prepend(0.0, list_transform(range(1, 17), " +
      s"i -> (CAST($a[$s * 16 + i] AS DOUBLE) - $cs[i]) " +
      s"* (CAST($a[$s * 16 + i] AS DOUBLE) - $cs[i]))), " +
      "(x, y) -> x + y)"

  /** DuckDB mirror of Knn.coarseEveryOf: the √n coarse-codebook
    * stride, derived from the same corpus count so both engines pick
    * the identical centroid set. */
  private val sqlCoarseEvery: String =
    "(SELECT greatest(1, CAST(ceil(sqrt(count(*))) AS BIGINT), " +
      "CAST(ceil(count(*) / 65536.0) AS BIGINT)) FROM embeddings)"

  /** DuckDB mirror of Knn.pqEveryOf: the fixed-256-codebook stride. */
  private val sqlPqEvery: String =
    "(SELECT greatest(1, CAST(ceil(count(*) / 256.0) AS BIGINT)) " +
      "FROM embeddings)"

  /** Classical-decomposition CTE chain ending in `dm` (per (user, day):
    * v = µ-floored daily mean, tr = centered-MA(7) trend, raw/m = the
    * per-dow seasonal mean and its normalization — all exact integer
    * µ-floors via the pmod trick). Shared VERBATIM by ts_stl and
    * ts_stl_outliers so the decomposition and its anomaly screen
    * cannot drift. Mirrors Trend.stlDecompose.
    */
  private def sqlStlCtes: String =
    s"""dg AS (SELECT user_id,
       |    ($EvUs - 1704067200000000) // 86400000000 AS d,
       |    sum(CAST(floor(value * 1e6) AS BIGINT)) AS s6,
       |    count(*) AS c
       |  FROM events GROUP BY 1, 2),
       |dv AS (SELECT user_id, d,
       |    (s6 - ((s6 % c) + c) % c) // c AS v FROM dg),
       |dt AS (SELECT user_id, d, v,
       |    CASE WHEN count(*) OVER w7 = 7 THEN
       |      (sum(v) OVER w7 - ((sum(v) OVER w7 % 7) + 7) % 7) // 7
       |    END AS tr
       |  FROM dv WINDOW w7 AS (PARTITION BY user_id ORDER BY d
       |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
       |dd AS (SELECT *, v - tr AS det, ((d % 7) + 7) % 7 AS dow
       |  FROM dt),
       |dr AS (SELECT *,
       |    CASE WHEN count(det) OVER wd > 0 THEN
       |      (sum(det) OVER wd - ((sum(det) OVER wd
       |          % count(det) OVER wd) + count(det) OVER wd)
       |        % count(det) OVER wd) // count(det) OVER wd
       |    END AS raw,
       |    CASE WHEN row_number() OVER (PARTITION BY user_id, dow
       |      ORDER BY d) = 1 THEN 1 ELSE 0 END AS f
       |  FROM dd WINDOW wd AS (PARTITION BY user_id, dow)),
       |dm AS (SELECT *,
       |    CASE WHEN sum(CASE WHEN f = 1 AND raw IS NOT NULL
       |        THEN 1 ELSE 0 END) OVER wk > 0 THEN
       |      (sum(CASE WHEN f = 1 THEN raw END) OVER wk
       |        - ((sum(CASE WHEN f = 1 THEN raw END) OVER wk
       |            % sum(CASE WHEN f = 1 AND raw IS NOT NULL
       |              THEN 1 ELSE 0 END) OVER wk)
       |          + sum(CASE WHEN f = 1 AND raw IS NOT NULL
       |              THEN 1 ELSE 0 END) OVER wk)
       |          % sum(CASE WHEN f = 1 AND raw IS NOT NULL
       |              THEN 1 ELSE 0 END) OVER wk)
       |      // sum(CASE WHEN f = 1 AND raw IS NOT NULL
       |          THEN 1 ELSE 0 END) OVER wk
       |    END AS m
       |  FROM dr WINDOW wk AS (PARTITION BY user_id))""".stripMargin

  /** Full-dim L2² fold in index order — the oracle twin of rqModel's
    * native VecSubL2/VecSubL2D distances (same order, same IEEE ops;
    * parity-spec-pinned against the HOF formulation). */
  private def sqlFullL2(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0, list_transform(range(1, ${EmbDim + 1}), " +
      s"i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) " +
      s"* (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)))), " +
      "(x, y) -> x + y)"

  /** Residual-quantization CTE chain ending in `rb2` (per-vector
    * level-1/level-2 assignments; winner = rn 1) with the codebooks
    * `rc1`/`rc2` in scope — mirrors Knn.rqModel (√n strides, offset
    * level-2 ids, zero codeword) and is shared VERBATIM by the emb_rq
    * and emb_rq_search oracles so store and serving cannot drift.
    */
  private def sqlRqCtes: String =
    s"""rc1 AS (SELECT vec_id AS cid1, embedding AS c1v
       |    FROM embeddings WHERE vec_id % $sqlCoarseEvery = (1 % $sqlCoarseEvery)),
       |ra1 AS (SELECT e.vec_id, c.cid1,
       |    ${sqlFullL2("e.embedding", "c.c1v")} AS d
       |  FROM embeddings e, rc1 c),
       |rb1 AS (SELECT vec_id, cid1, d, row_number() OVER (
       |    PARTITION BY vec_id ORDER BY d, cid1) AS rn FROM ra1),
       |rr AS (SELECT b.vec_id, b.cid1, b.d AS err1,
       |    list_transform(range(1, ${EmbDim + 1}),
       |      i -> CAST(e.embedding[i] AS DOUBLE)
       |        - CAST(c.c1v[i] AS DOUBLE)) AS r
       |  FROM rb1 b JOIN embeddings e ON e.vec_id = b.vec_id
       |    JOIN rc1 c ON c.cid1 = b.cid1
       |  WHERE b.rn = 1),
       |rc2 AS (SELECT vec_id AS cid2, r AS c2v FROM rr
       |  WHERE vec_id % $sqlCoarseEvery = (2 % $sqlCoarseEvery)
       |  UNION ALL SELECT CAST(-1 AS BIGINT),
       |    list_transform(range(1, ${EmbDim + 1}), i -> 0.0)),
       |ra2 AS (SELECT a.vec_id, a.cid1, a.err1, c.cid2,
       |    ${sqlFullL2("a.r", "c.c2v")} AS d2
       |  FROM rr a, rc2 c),
       |rb2 AS (SELECT *, row_number() OVER (
       |    PARTITION BY vec_id ORDER BY d2, cid2) AS rn FROM ra2)""".stripMargin

  /** RQ-flat serving over [[sqlRqCtes]]: the winners' c1+c2
    * reconstruction ranks approximate-cosine top-15, exact cosine
    * reranks them into `rfin` = (query_id, neighbor_id, cos, rank) —
    * mirrors Knn.rqSearchTopK; shared by emb_rq_search and
    * emb_rq_recall so the eval measures exactly the index served.
    */
  private def sqlRqSearchCtes: String =
    s"""$sqlRqCtes,
       |rw AS (SELECT vec_id, cid1, cid2 FROM rb2 WHERE rn = 1),
       |rrec AS (SELECT w.vec_id AS neighbor_id,
       |    list_transform(range(1, ${EmbDim + 1}),
       |      i -> CAST(c.c1v[i] AS DOUBLE) + d.c2v[i]) AS rv
       |  FROM rw w JOIN rc1 c ON c.cid1 = w.cid1
       |    JOIN rc2 d ON d.cid2 = w.cid2),
       |rqq AS (SELECT vec_id AS query_id, embedding AS qv,
       |    sqrt(${sqlDot("embedding", "embedding")}) AS qn
       |  FROM embeddings WHERE ${sqlAnnQueries()}),
       |rs AS (SELECT q.query_id, r.neighbor_id,
       |    ${sqlDot("q.qv", "r.rv")}
       |      / (q.qn * sqrt(${sqlDot("r.rv", "r.rv")})) AS acos
       |  FROM rrec r, rqq q WHERE r.neighbor_id <> q.query_id),
       |rcand AS (${sqlTopK("rs", "acos", 15)}),
       |rex AS (SELECT a.query_id, a.neighbor_id,
       |    ${sqlDot("q.qv", "e.embedding")}
       |      / (q.qn * sqrt(${sqlDot("e.embedding", "e.embedding")}))
       |      AS cos
       |  FROM rcand a JOIN rqq q ON q.query_id = a.query_id
       |    JOIN embeddings e ON e.vec_id = a.neighbor_id),
       |rfin AS (${sqlTopK("rex", "cos", cols = "query_id, neighbor_id, cos")})""".stripMargin

  /** IVF coarse-quantizer CTEs (cents/c0/ca/ccell/q0/qa/qcell) —
    * shared VERBATIM by the emb_knn_ivf oracle, emb_ann_recall's ivf
    * leg and emb_ivf_pq, so the index and every consumer of its cell
    * assignment cannot drift. Mirrors Knn.ivfTopK / coarseCents
    * (√n-strided centroids, top-1 corpus cell, 2-probe queries).
    */
  private def sqlIvfCtes: String =
    s"""cents AS (SELECT vec_id AS cid, embedding AS cvec,
       |    sqrt(${sqlDot("embedding", "embedding")}) AS cn
       |  FROM embeddings WHERE vec_id % $sqlCoarseEvery = (1 % $sqlCoarseEvery)),
       |c0 AS (SELECT vec_id AS neighbor_id, embedding AS nv,
       |    sqrt(${sqlDot("embedding", "embedding")}) AS nn FROM embeddings),
       |ca AS (SELECT neighbor_id, nv, nn, cid,
       |    row_number() OVER (PARTITION BY neighbor_id
       |      ORDER BY ${sqlDot("nv", "cvec")} / (nn * cn) DESC, cid) AS crk
       |  FROM c0, cents),
       |ccell AS (SELECT neighbor_id, nv, nn, cid FROM ca WHERE crk <= 1),
       |q0 AS (SELECT vec_id AS query_id, embedding AS qv,
       |    sqrt(${sqlDot("embedding", "embedding")}) AS qn
       |  FROM embeddings WHERE ${sqlAnnQueries()}),
       |qa AS (SELECT query_id, qv, qn, cid,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY ${sqlDot("qv", "cvec")} / (qn * cn) DESC, cid) AS crk
       |  FROM q0, cents),
       |qcell AS (SELECT query_id, qv, qn, cid FROM qa WHERE crk <= 2)""".stripMargin

  /** Multi-table LSH candidate CTEs (lb/lq/lc/lj) — shared VERBATIM by
    * the emb_knn_lsh oracle and emb_ann_recall's lsh leg so the index
    * and its eval cannot drift; mirrors Knn.lshTopK (4 tables x 4
    * planes, plane set t at offset 4t, max() pair dedup).
    */
  private val LshPlanes = 4
  private val LshTables = 4

  /** The stub-decode perceptual-hash chain shared by mm_phash and its
    * recall eval: `ph(doc_id, phash)` and the byte-banded candidate
    * pairs `pp(id_a, id_b, hamming)` — every constant interpolated
    * from the Spark side's (Multimodal.PhashPixels, TextOps.HashMul/
    * HashMod, the squared-mix step).
    */
  private def sqlPhashCtes: String =
    sqlPhashCtesN(Multimodal.PhashPixels, Multimodal.PhashBandBits,
      "documents")

  /** The aHash chain parameterized by hash width / band width / source
    * CTE, ending in `pp(id_a, id_b, hamming)` = the hamming <= 3 pairs
    * (Multimodal.phashPairs at doc grain: the equal-hash arm plus the
    * hot-cell-capped band pairs, UNION-deduped). `1::BIGINT << i` and
    * the BIGINT cast matter at 64 bits (bit 63's term is negative; the
    * HUGEINT sum restores the same two's-complement long Spark's
    * bitwise-or builds).
    */
  private def sqlPhashCtesN(n: Int, bandBits: Int, src: String): String =
    s"""m AS (SELECT doc_id, ${sqlPoly("text")} AS h FROM $src),
       |pxi AS (SELECT doc_id, h,
       |  unnest(range($n)) AS i FROM m),
       |pxt AS (SELECT doc_id, i,
       |  (h + i * 654664997) % ${TextOps.HashMod} AS t FROM pxi),
       |px AS (SELECT doc_id, i, (t * t) % ${TextOps.HashMod} % 256 AS p
       |  FROM pxt),
       |pt AS (SELECT doc_id, sum(p) AS tot FROM px GROUP BY doc_id),
       |ph AS (SELECT px.doc_id, CAST(sum(CASE WHEN p * $n <= tot THEN 0
       |    WHEN i = 63 THEN CAST(-9223372036854775808 AS BIGINT)
       |    ELSE CAST(1 AS BIGINT) << i END) AS BIGINT) AS phash
       |  FROM px JOIN pt ON px.doc_id = pt.doc_id GROUP BY px.doc_id),
       |bd0 AS (${sqlBitBands("ph", "phash", bandBits, n / bandBits)}),
       |bdh AS (SELECT band, bk FROM bd0 GROUP BY band, bk
       |  HAVING count(DISTINCT phash) <= 1024),
       |bd AS (SELECT bd0.doc_id, bd0.phash, bd0.band, bd0.bk
       |  FROM bd0 JOIN bdh USING (band, bk)),
       |${sqlBandPairs("bp", "bd", "phash", 3)},
       |pp AS (
       |  SELECT a.doc_id AS id_a, b2.doc_id AS id_b, 0 AS hamming
       |  FROM ph a JOIN ph b2
       |    ON a.phash = b2.phash AND a.doc_id < b2.doc_id
       |  UNION SELECT * FROM bp)""".stripMargin

  /** Augmented-LSH MIPS chain ending in `mr` = (query_id, neighbor_id,
    * ip, rank) — shared by emb_mips_lsh and emb_mips_recall so the
    * eval measures exactly the index the query serves.
    */
  private def sqlMipsLshCtes: String =
    s"""m2 AS (SELECT max(${sqlDot("embedding", "embedding")}) AS m2
       |  FROM embeddings),
       |ma AS (SELECT vec_id, embedding,
       |    list_append(list_transform(embedding, x -> CAST(x AS DOUBLE)),
       |      sqrt(greatest(m2.m2
       |        - ${sqlDot("embedding", "embedding")}, 0.0))) AS aug
       |  FROM embeddings, m2),
       |mq0 AS (SELECT vec_id, embedding,
       |    list_append(list_transform(embedding, x -> CAST(x AS DOUBLE)),
       |      0.0) AS aug
       |  FROM embeddings WHERE ${sqlAnnQueries()}),
       |mb AS (${(0 until LshTables).map(t =>
             s"SELECT vec_id, embedding, $t AS tb,\n    " +
               s"${sqlBucketN("aug", LshPlanes, t * LshPlanes, EmbDim + 1)} AS bk " +
               "FROM ma").mkString("\n  UNION ALL ")}),
       |qb AS (${(0 until LshTables).map(t =>
             s"SELECT vec_id, embedding, $t AS tb,\n    " +
               s"${sqlBucketN("aug", LshPlanes, t * LshPlanes, EmbDim + 1)} AS bk " +
               "FROM mq0").mkString("\n  UNION ALL ")}),
       |mcand AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    max(${sqlDot("q.embedding", "c.embedding")}) AS ip
       |  FROM mb c JOIN qb q ON c.tb = q.tb AND c.bk = q.bk
       |    AND c.vec_id <> q.vec_id
       |  GROUP BY 1, 2),
       |mr AS (${sqlTopK("mcand", "ip", cols = "query_id, neighbor_id, ip")})""".stripMargin

  /** The banded corpus `lb(vec_id, embedding, tb, bk)` — one row per
    * (vector, LSH table) with that table's bucket code. Shared by
    * [[sqlLshCtes]] and the emb_dedup_cosine oracle so the dedup blocks
    * are exactly the ANN index's cells.
    */
  private def sqlLshBandCte: String = sqlLshBandCteFrom("embeddings")

  /** [[sqlLshBandCte]] over an arbitrary source relation — the
    * emb_dedup_cosine_fixed oracle bands its count-gated base-copy
    * view instead of the raw table.
    */
  private def sqlLshBandCteFrom(src: String): String = {
    val lb = (0 until LshTables).map(t =>
      s"SELECT vec_id, embedding, $t AS tb,\n    " +
        s"${sqlBucket("embedding", LshPlanes, t * LshPlanes)} AS bk " +
        s"FROM $src").mkString("\n  UNION ALL ")
    s"lb AS ($lb)"
  }

  /** AUTO-plane LSH band CTE `alb(vec_id, tb, bk)`: derives the plane
    * count from count(*) with Knn.autoPlanes' exact integer formula
    * (greatest(4, smallest p with n >> p <= 125)) and builds each
    * table's bucket code from a dynamic plane range — the oracle twin
    * of the auto-sized emb_dedup_cosine geometry, where the plane
    * count must come out identical in both engines at any corpus
    * size. Same deterministic plane family as sqlPlaneDotN (absolute
    * plane index tb*np + j, 1-based dimension), with all hash
    * arithmetic in BIGINT (plane indices from range() are BIGINT, so
    * the (plane+1)*73856093 product can't overflow INT32 at deep
    * plane counts the way an interpolated literal would).
    */
  private def sqlAutoLshBandCte: String =
    s"""acnt AS (SELECT count(*) AS n FROM embeddings),
       |anp AS (SELECT greatest(4, min(p)) AS np FROM acnt,
       |  range(0, 41) t(p) WHERE (n >> p) <= 125),
       |apl AS (SELECT tb, np, unnest(range(np)) AS j
       |  FROM anp, range($LshTables) tt(tb)),
       |adp AS (SELECT e.vec_id, p.tb, p.j,
       |    list_reduce(list_prepend(0.0, list_transform(range(1, ${EmbDim + 1}),
       |      i -> CAST(e.embedding[i] AS DOUBLE)
       |        * CAST(((p.tb * p.np + p.j + 1) * 73856093 + i * 19349663)
       |          % 2000001 - 1000000 AS DOUBLE))), (x, y) -> x + y) AS d
       |  FROM embeddings e, apl p),
       |alb AS (SELECT vec_id, tb,
       |    sum(CASE WHEN d > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS bk
       |  FROM adp GROUP BY 1, 2)""".stripMargin

  private def sqlLshCtes: String = {
    s"""$sqlLshBandCte,
       |lq AS (SELECT vec_id AS query_id, embedding AS qv, tb, bk FROM lb
       |  WHERE ${sqlAnnQueries()}),
       |lc AS (SELECT vec_id AS neighbor_id, embedding AS nv, tb, bk FROM lb),
       |lj0 AS (SELECT query_id, neighbor_id, ${sqlCos("qv", "nv")} AS cos
       |  FROM lc JOIN lq USING (tb, bk) WHERE neighbor_id <> query_id),
       |lj AS (SELECT query_id, neighbor_id, max(cos) AS cos FROM lj0
       |  GROUP BY 1, 2)""".stripMargin
  }

  private def dataOracles: Map[String, String] = Map(
    "doc_dedup_exact" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS canonical_id,
        |  count(*) AS n_docs
        |FROM documents GROUP BY md5(text)""".stripMargin,

    "doc_dedup_minhash" ->
      s"""WITH $sqlMinhashCtes
         |SELECT id_a, id_b FROM pairs""".stripMargin,

    "doc_shard" ->
      s"""WITH m AS (SELECT doc_id, ${sqlPoly("text")} AS h FROM documents),
         |b AS (SELECT doc_id, h, CAST(h % 8 AS INTEGER) AS bucket FROM m),
         |r AS (SELECT doc_id, bucket,
         |  row_number() OVER (PARTITION BY bucket ORDER BY h, doc_id) - 1 AS p
         |  FROM b)
         |SELECT doc_id, bucket, CAST(p // 32 AS INTEGER) AS shard,
         |  CAST(p % 32 AS INTEGER) AS pos FROM r""".stripMargin,

    // concat-and-chunk packing: exclusive prefix sum of token counts
    // in (hash, id) order per bucket, chunk boundary every 2048 tokens
    "doc_pack" ->
      s"""WITH d AS (SELECT doc_id, ${sqlPoly("text")} AS h,
         |    CAST(len($sqlToks) AS BIGINT) AS n_tokens FROM documents),
         |b AS (SELECT doc_id, h, CAST(h % 16 AS INTEGER) AS bucket,
         |    n_tokens FROM d),
         |c AS (SELECT doc_id, bucket, n_tokens,
         |    coalesce(sum(n_tokens) OVER (PARTITION BY bucket
         |      ORDER BY h, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
         |  FROM b)
         |SELECT doc_id, bucket, n_tokens,
         |  CAST(cum // 2048 AS INTEGER) AS seq,
         |  CAST(cum % 2048 AS INTEGER) AS seq_off
         |FROM c""".stripMargin,

    "doc_minhash_est" -> {
      val matches = (0 until 16)
        .map(j => s"CASE WHEN a.h$j = b.h$j THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH $sqlMinhashCtes
         |SELECT p.id_a, p.id_b, ($matches) AS n_match,
         |  CAST(($matches) AS DOUBLE) / CAST(16.0 AS DOUBLE) AS est_jaccard
         |FROM pairs p JOIN sigs a ON a.doc_id = p.id_a
         |  JOIN sigs b ON b.doc_id = p.id_b""".stripMargin
    },

    // connected components over the candidate pairs: walk(u) is the set
    // of nodes reachable from u (UNION dedups, so the recursion reaches
    // its fixpoint on the component), cluster id = min reachable id —
    // the same labeling Dedup.components converges to
    "doc_dedup_cluster" ->
      s"""WITH RECURSIVE $sqlMinhashCtes,
         |edges AS (SELECT id_a AS u, id_b AS v FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs),
         |walk AS (SELECT u, v AS lbl FROM edges
         |  UNION
         |  SELECT e.u, w.lbl FROM edges e JOIN walk w ON w.u = e.v),
         |comp AS (SELECT u, min(lbl) AS cluster_id FROM walk GROUP BY u)
         |SELECT d.doc_id,
         |  coalesce(c.cluster_id, d.doc_id) AS cluster_id,
         |  d.doc_id = coalesce(c.cluster_id, d.doc_id) AS is_canonical
         |FROM documents d LEFT JOIN comp c ON c.u = d.doc_id""".stripMargin,

    "doc_dedup_keep_best" ->
      s"""WITH RECURSIVE $sqlMinhashCtes,
         |edges AS (SELECT id_a AS u, id_b AS v FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs),
         |walk AS (SELECT u, v AS lbl FROM edges
         |  UNION
         |  SELECT e.u, w.lbl FROM edges e JOIN walk w ON w.u = e.v),
         |comp AS (SELECT u, min(lbl) AS cluster_id FROM walk GROUP BY u),
         |lab AS (SELECT d.doc_id,
         |    coalesce(c.cluster_id, d.doc_id) AS cluster_id, d.n_chars
         |  FROM documents d LEFT JOIN comp c ON c.u = d.doc_id)
         |SELECT doc_id, cluster_id,
         |  row_number() OVER (PARTITION BY cluster_id
         |    ORDER BY n_chars DESC, doc_id) = 1 AS keep
         |FROM lab""".stripMargin,

    "doc_dedup_simhash" ->
      s"""WITH ${sqlSimhashPairCtes(4)}
         |SELECT id_a, id_b, hamming FROM spairs""".stripMargin,

    "doc_dedup_simhash_wide" ->
      s"""WITH ${sqlSimhashWideCtes(3)}
         |SELECT id_a, id_b, hamming FROM wpairs""".stripMargin,

    // 60-bit/4x15-band simhash candidates (pigeonhole-complete h<=2,
    // the production geometry) re-verified by true Levenshtein; the
    // cap mirrors the Spark side's per-length-band DP cap
    // (1-tau)·bandUpper — exact for any pair that could reach tau,
    // since dist <= (1-0.8)·ml <= cap within each band
    "doc_dedup_edit" ->
      s"""WITH ${sqlSimhashWideCtes(2)},
         |lv0 AS (SELECT p.id_a, p.id_b, p.hamming,
         |    levenshtein(da.text, db.text) AS lv,
         |    greatest(length(da.text), length(db.text)) AS ml
         |  FROM wpairs p
         |  JOIN documents da ON da.doc_id = p.id_a
         |  JOIN documents db ON db.doc_id = p.id_b),
         |ed AS (SELECT id_a, id_b, hamming, ml, CASE
         |    WHEN ml <= 150 THEN CASE WHEN lv <= 30 THEN lv ELSE -1 END
         |    WHEN ml <= 300 THEN CASE WHEN lv <= 60 THEN lv ELSE -1 END
         |    WHEN ml <= 450 THEN CASE WHEN lv <= 90 THEN lv ELSE -1 END
         |    ELSE CASE WHEN lv <= 120 THEN lv ELSE -1 END END AS edit_dist
         |  FROM lv0),
         |es AS (SELECT id_a, id_b, hamming, edit_dist,
         |    CASE WHEN edit_dist >= 0 THEN
         |      round(1.0 - CAST(edit_dist AS DOUBLE)
         |        / CAST(ml AS DOUBLE), 6) END AS edit_sim
         |  FROM ed)
         |SELECT id_a, id_b, hamming, edit_dist, edit_sim,
         |  coalesce(edit_sim >= 0.8, false) AS is_dup
         |FROM es""".stripMargin,

    "doc_contamination" ->
      s"""WITH $sqlSidsCte,
         |bench AS (SELECT DISTINCT unnest(sids) AS sid FROM sids
         |  WHERE ${sqlBenchDocs()}),
         |corpus AS (SELECT doc_id, unnest(sids) AS sid FROM sids
         |  WHERE NOT (${sqlBenchDocs()})),
         |hits AS (SELECT doc_id, count(*) AS n_shared FROM corpus
         |  WHERE sid IN (SELECT sid FROM bench) GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(h.n_shared, 0) AS n_shared,
         |  coalesce(h.n_shared, 0) > 0 AS contaminated
         |FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
         |WHERE NOT (${sqlBenchDocs("d.doc_id")})""".stripMargin,

    // char-gram decontamination: the dup_spans rolling-hash chain with
    // the bench/corpus split of the contamination oracle
    "doc_contamination_spans" ->
      s"""WITH csg AS (SELECT doc_id,
         |    (${sqlBenchDocs()}) AS bench, text,
         |    unnest(range(0, greatest(len(text) - 19, 0))) AS pos
         |  FROM documents),
         |csh AS (SELECT doc_id, bench, pos,
         |    ${sqlPoly("substr(text, CAST(pos AS INTEGER) + 1, 20)")} AS h
         |  FROM csg),
         |csb AS (SELECT DISTINCT h FROM csh WHERE bench),
         |csp AS (SELECT doc_id, pos FROM csh
         |  WHERE NOT bench AND h IN (SELECT h FROM csb)),
         |csi AS (SELECT doc_id, pos,
         |    CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
         |        IS NULL
         |      OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
         |        + 20
         |      THEN 1 ELSE 0 END AS st
         |  FROM csp),
         |csl AS (SELECT doc_id, pos,
         |    sum(st) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
         |  FROM csi),
         |css AS (SELECT doc_id, min(pos) AS b, max(pos) + 20 AS e
         |  FROM csl GROUP BY doc_id, isl),
         |csa AS (SELECT doc_id, count(*) AS n_spans,
         |    sum(e - b) AS cchars
         |  FROM css GROUP BY doc_id)
         |SELECT d.doc_id, CAST(coalesce(a.n_spans, 0) AS BIGINT) AS n_spans,
         |  CAST(coalesce(a.cchars, 0) AS BIGINT) AS contaminated_chars,
         |  CASE WHEN len(d.text) > 0 THEN
         |    round(CAST(coalesce(a.cchars, 0) AS DOUBLE)
         |      / CAST(len(d.text) AS DOUBLE), 6)
         |  ELSE 0.0 END AS contam_frac,
         |  coalesce(a.cchars, 0) > 0 AS contaminated
         |FROM documents d LEFT JOIN csa a ON d.doc_id = a.doc_id
         |WHERE NOT (${sqlBenchDocs("d.doc_id")})""".stripMargin,

    // Bloom internals are engine-specific; the exact columns and the
    // contract verdicts are not (see the query comment)
    "doc_contamination_bloom" ->
      s"""WITH $sqlSidsCte,
         |bench AS (SELECT DISTINCT unnest(sids) AS sid FROM sids
         |  WHERE ${sqlBenchDocs()}),
         |corpus AS (SELECT doc_id, unnest(sids) AS sid FROM sids
         |  WHERE NOT (${sqlBenchDocs()})),
         |hits AS (SELECT doc_id, count(*) AS n_shared FROM corpus
         |  WHERE sid IN (SELECT sid FROM bench) GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(h.n_shared, 0) AS n_shared,
         |  coalesce(h.n_shared, 0) > 0 AS contaminated,
         |  TRUE AS bloom_no_false_neg,
         |  TRUE AS bloom_flags_all_contaminated
         |FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
         |WHERE NOT (${sqlBenchDocs("d.doc_id")})""".stripMargin,

    "doc_dup_ngram_frac" ->
      s"""WITH $sqlSidsCte,
         |inv AS (SELECT doc_id, unnest(sids) AS sid FROM sids),
         |dup AS (SELECT sid FROM inv GROUP BY sid HAVING count(*) >= 2),
         |nd AS (SELECT doc_id, count(*) AS n_dup FROM inv
         |  WHERE sid IN (SELECT sid FROM dup) GROUP BY doc_id)
         |SELECT s.doc_id, len(s.sids) AS n_shingles,
         |  coalesce(nd.n_dup, 0) AS n_dup,
         |  CASE WHEN len(s.sids) > 0 THEN
         |    round(CAST(coalesce(nd.n_dup, 0) AS DOUBLE) / len(s.sids), 6)
         |  END AS dup_frac
         |FROM sids s LEFT JOIN nd ON nd.doc_id = s.doc_id""".stripMargin,

    // non-overlapping 16-token blocks: DuckDB list_slice is
    // position-inclusive (i*16+1 .. i*16+16) == Spark slice(start, 16);
    // range(0, nb) is empty when nb = 0, matching the Spark guard
    "doc_dup_blocks" ->
      s"""WITH toks AS (SELECT doc_id, $sqlToks AS tk FROM documents),
         |b AS (SELECT doc_id, list_distinct(
         |    list_transform(range(0, len(tk) // 16), i ->
         |      ${sqlPoly("array_to_string(list_slice(tk, i*16+1, i*16+16), ' ')")}))
         |    AS bids
         |  FROM toks),
         |inv AS (SELECT doc_id, unnest(bids) AS bid FROM b),
         |dup AS (SELECT bid FROM inv GROUP BY bid HAVING count(*) >= 2),
         |nd AS (SELECT doc_id, count(*) AS n_dup FROM inv
         |  WHERE bid IN (SELECT bid FROM dup) GROUP BY doc_id)
         |SELECT b.doc_id, len(b.bids) AS n_blocks,
         |  coalesce(nd.n_dup, 0) AS n_dup,
         |  CASE WHEN len(b.bids) > 0 THEN
         |    round(CAST(coalesce(nd.n_dup, 0) AS DOUBLE) / len(b.bids), 6)
         |  END AS dup_frac
         |FROM b LEFT JOIN nd ON nd.doc_id = b.doc_id""".stripMargin,

    // char 20-gram hashes restate CharGramHashes' rolling recurrence
    // directly (hash each substring); fixed-length intervals make the
    // island fold a lag test (ends are monotone in begins)
    "doc_dup_spans" ->
      s"""WITH dsg AS (SELECT doc_id, text,
         |    unnest(range(0, greatest(len(text) - 19, 0))) AS pos
         |  FROM documents),
         |dsh AS (SELECT doc_id, pos,
         |    ${sqlPoly("substr(text, CAST(pos AS INTEGER) + 1, 20)")} AS h
         |  FROM dsg),
         |dsd AS (SELECT h FROM dsh GROUP BY h HAVING count(*) >= 2),
         |dsp AS (SELECT doc_id, pos FROM dsh
         |  WHERE h IN (SELECT h FROM dsd)),
         |dsi AS (SELECT doc_id, pos,
         |    CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
         |        IS NULL
         |      OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
         |        + 20
         |      THEN 1 ELSE 0 END AS st
         |  FROM dsp),
         |dsl AS (SELECT doc_id, pos,
         |    sum(st) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
         |  FROM dsi),
         |dss AS (SELECT doc_id, min(pos) AS b, max(pos) + 20 AS e
         |  FROM dsl GROUP BY doc_id, isl),
         |dsa AS (SELECT doc_id, count(*) AS n_spans,
         |    sum(e - b) AS dup_chars
         |  FROM dss GROUP BY doc_id)
         |SELECT d.doc_id, CAST(coalesce(a.n_spans, 0) AS BIGINT) AS n_spans,
         |  CAST(coalesce(a.dup_chars, 0) AS BIGINT) AS dup_chars,
         |  CASE WHEN len(d.text) > 0 THEN
         |    round(CAST(coalesce(a.dup_chars, 0) AS DOUBLE)
         |      / CAST(len(d.text) AS DOUBLE), 6)
         |  ELSE 0.0 END AS dup_frac
         |FROM documents d LEFT JOIN dsa a ON d.doc_id = a.doc_id""".stripMargin,

    // keep-first = row_number over each hash's posting list (the
    // doc_block_dedup convention); reassembly stitches the segments
    // BETWEEN remove-spans plus the tail, ordered by position
    "doc_span_dedup" ->
      s"""WITH sdg AS (SELECT doc_id, text,
         |    unnest(range(0, greatest(len(text) - 19, 0))) AS pos
         |  FROM documents),
         |sdh AS (SELECT doc_id, pos,
         |    ${sqlPoly("substr(text, CAST(pos AS INTEGER) + 1, 20)")} AS h
         |  FROM sdg),
         |sdr AS (SELECT doc_id, pos FROM (SELECT doc_id, pos,
         |    row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
         |  FROM sdh) WHERE rn > 1),
         |sdi AS (SELECT doc_id, pos,
         |    CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
         |        IS NULL
         |      OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
         |        + 20
         |      THEN 1 ELSE 0 END AS st
         |  FROM sdr),
         |sdl AS (SELECT doc_id, pos,
         |    sum(st) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
         |  FROM sdi),
         |sds AS (SELECT doc_id, min(pos) AS b, max(pos) + 20 AS e
         |  FROM sdl GROUP BY doc_id, isl),
         |sdseg AS (SELECT doc_id,
         |    coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY b), 0)
         |      AS sb,
         |    b AS se
         |  FROM sds),
         |sdnew AS (SELECT doc_id, string_agg(segtxt, '' ORDER BY sb)
         |    AS newt
         |  FROM (
         |    SELECT s.doc_id, s.sb, substr(d.text,
         |        CAST(s.sb AS INTEGER) + 1, CAST(s.se - s.sb AS INTEGER))
         |        AS segtxt
         |      FROM sdseg s JOIN documents d USING (doc_id)
         |    UNION ALL
         |    SELECT t.doc_id, t.sb, substr(d.text,
         |        CAST(t.sb AS INTEGER) + 1) AS segtxt
         |      FROM (SELECT doc_id, max(e) AS sb FROM sds GROUP BY doc_id)
         |        t JOIN documents d USING (doc_id))
         |  GROUP BY doc_id),
         |sdstat AS (SELECT doc_id, count(*) AS n_cut, sum(e - b) AS cut
         |  FROM sds GROUP BY doc_id)
         |SELECT d.doc_id, CAST(coalesce(st.n_cut, 0) AS BIGINT) AS n_cut,
         |  CAST(coalesce(st.cut, 0) AS BIGINT) AS removed_chars,
         |  coalesce(n.newt, d.text) AS new_text
         |FROM documents d
         |LEFT JOIN sdstat st USING (doc_id)
         |LEFT JOIN sdnew n USING (doc_id)""".stripMargin,

    // first occurrence = min (doc_id, pos) per block hash, expressed
    // as a row_number window; reassembly re-slices the token list at
    // the kept positions then appends the sub-16-token tail
    "doc_block_dedup" ->
      s"""WITH toks AS (SELECT doc_id, $sqlToks AS tk FROM documents),
         |b AS (SELECT doc_id, tk, len(tk) AS ntk,
         |    len(tk) // 16 AS nb FROM toks),
         |o0 AS (SELECT doc_id, tk, unnest(range(0, nb)) AS pos FROM b),
         |occ AS (SELECT doc_id, pos,
         |    ${sqlPoly("array_to_string(list_slice(tk, pos*16+1, pos*16+16), ' ')")} AS h
         |  FROM o0),
         |k AS (SELECT doc_id, pos FROM (SELECT doc_id, pos,
         |    row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
         |  FROM occ) WHERE rn = 1),
         |kl AS (SELECT doc_id, list(pos ORDER BY pos) AS kp FROM k
         |  GROUP BY doc_id)
         |SELECT b.doc_id, CAST(nb AS BIGINT) AS n_blocks,
         |  CAST(nb - coalesce(len(kl.kp), 0) AS BIGINT) AS n_removed,
         |  coalesce(array_to_string(list_filter(list_concat(
         |    list_transform(coalesce(kl.kp, CAST([] AS BIGINT[])), p ->
         |      array_to_string(list_slice(tk, p*16+1, p*16+16), ' ')),
         |    [coalesce(array_to_string(list_slice(tk, nb*16+1, ntk), ' '), '')]),
         |    s -> len(s) > 0), ' '), '') AS new_text
         |FROM b LEFT JOIN kl USING (doc_id)""".stripMargin,

    // band curve: per-geometry candidates from the SAME sigs CTE
    // (2x8 / 4x4 / 8x2 over the 16 minhashes), truth = the shared
    // exact-Jaccard chain; recall and precision per geometry
    "doc_minhash_band_curve" -> {
      def bandSel(bands: Int): String = {
        val r = 16 / bands
        (0 until bands).map { b =>
          val bk = (1 until r).foldLeft(s"h${b * r}") {
            (acc, i) => s"(($acc) * 31 + h${b * r + i}) % ${TextOps.HashMod}"
          }
          s"SELECT doc_id, $b AS band, $bk AS bk FROM sigs"
        }.mkString("\nUNION ALL\n")
      }
      def legCtes(bands: Int): String =
        s"""bnd$bands AS (${bandSel(bands)}),
           |cand$bands AS (SELECT DISTINCT a.doc_id AS id_a,
           |    b.doc_id AS id_b
           |  FROM bnd$bands a JOIN bnd$bands b
           |    ON a.band = b.band AND a.bk = b.bk
           |    AND a.doc_id < b.doc_id)""".stripMargin
      def legSel(bands: Int): String =
        s"""SELECT 'bands_$bands' AS method, t.n AS n_truth,
           |  c.n AS n_cand, h.n AS n_hits,
           |  CASE WHEN t.n > 0 THEN
           |    round(CAST(h.n AS DOUBLE) / t.n, 6) END AS recall,
           |  CASE WHEN c.n > 0 THEN
           |    round(CAST(h.n AS DOUBLE) / c.n, 6) END AS prec
           |FROM (SELECT count(*) AS n FROM truth) t,
           |  (SELECT count(*) AS n FROM cand$bands) c,
           |  (SELECT count(*) AS n FROM truth
           |     JOIN cand$bands USING (id_a, id_b)) h""".stripMargin
      s"""WITH $sqlMinhashCtes,
         |${sqlPostingPairs("sh", "sid", None)},
         |truth AS (SELECT id_a, id_b FROM postpairs
         |  WHERE CAST(n_shared AS DOUBLE) / (n_a + n_b - n_shared) >= 0.5),
         |${legCtes(2)},
         |${legCtes(4)},
         |${legCtes(8)}
         |${legSel(2)}
         |UNION ALL
         |${legSel(4)}
         |UNION ALL
         |${legSel(8)}""".stripMargin
    },

    "doc_dedup_eval" ->
      s"""WITH $sqlMinhashCtes,
         |${sqlPostingPairs("sh", "sid", None)},
         |truth AS (SELECT id_a, id_b FROM postpairs
         |  WHERE CAST(n_shared AS DOUBLE) / (n_a + n_b - n_shared) >= 0.5),
         |${sqlSimhashPairCtes(4)}
         |${sqlRecall("truth", Seq("minhash_lsh" -> "pairs", "simhash" -> "spairs"),
              keys = Seq("id_a", "id_b"))}""".stripMargin,

    "doc_dedup_ngram_jaccard" -> sqlNgramJaccard(None),

    // identical chain with the df cap applied to the inverted index
    // BEFORE the self-join (sizes stay the full shingle-set sizes, so
    // the Jaccard denominator is unchanged — only candidate generation
    // is pruned), mirroring Dedup.ngramJaccardPairs(maxDocFreq)
    "doc_dedup_ngram_jaccard_pruned" -> sqlNgramJaccard(Some(NgramJaccardMaxDf)),

    "doc_langid" ->
      s"""WITH $sqlLangidChain
         |SELECT doc_id, lang, s_en, s_de, s_fr, s_es, pred_lang
         |FROM lid""".stripMargin,

    // the eval reuses the langid chain verbatim: per-(label, pred)
    // confusion cell with row-normalized fraction
    "doc_langid_eval" ->
      s"""WITH $sqlLangidChain,
         |lec AS (SELECT lang, pred_lang, count(*) AS n FROM lid
         |  GROUP BY 1, 2),
         |lew AS (SELECT lang, pred_lang, n,
         |    CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT) AS n_lang
         |  FROM lec)
         |SELECT lang, pred_lang, n, n_lang,
         |  round(CAST(n AS DOUBLE) / CAST(n_lang AS DOUBLE), 6) AS frac,
         |  lang = pred_lang AS correct
         |FROM lew""".stripMargin,

    "doc_quality" ->
      s"""WITH $sqlQualityCtes
         |SELECT doc_id, n_tokens, avg_token_len, punct_ratio,
         |  digit_ratio, stop_ratio, quality
         |FROM qual""".stripMargin,

    // two-pass corpus filter: the p75 threshold is one tiny global
    // percentile agg broadcast back over the scores — same pattern as
    // ts_mad; quantile_cont over rounded-6 doubles matches Spark's
    // exact percentile
    "doc_quality_filter" ->
      s"""WITH $sqlQualityCtes,
         |thr AS (SELECT round(quantile_cont(quality, 0.75), 6) AS q75
         |  FROM qual)
         |SELECT doc_id, quality, q75 FROM qual, thr
         |WHERE quality >= q75""".stripMargin,

    "doc_tokens" ->
      s"""SELECT doc_id, CAST(len($sqlToks) AS BIGINT) AS n_ws_tokens,
         |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
         |    AS BIGINT) AS n_bpe_pieces,
         |  CAST(length(text) AS BIGINT) AS n_chars_m
         |FROM documents""".stripMargin,

    "doc_gopher" -> {
      val stopEn = TextOps.StopEn.map(w => s"'$w'").mkString(", ")
      val big = "list_transform(range(1, greatest(len(tk)-1, 0) + 1), " +
        s"i -> ${sqlPoly("array_to_string(list_slice(tk, i, i+1), ' ')")})"
      s"""WITH t AS (SELECT doc_id, text, $sqlToks AS tk FROM documents),
         |r AS (SELECT doc_id, len(tk) AS ntk,
         |  (CAST(length(text) AS DOUBLE) - (len(tk) - 1))
         |    / CAST(len(tk) AS DOUBLE) AS avg_len,
         |  CASE WHEN len($big) = 0 THEN 0.0
         |    ELSE round(1.0 - CAST(len(list_distinct($big)) AS DOUBLE)
         |      / CAST(len($big) AS DOUBLE), 6) END AS rep_2gram,
         |  len(list_filter(tk, x -> list_contains([$stopEn], x))) > 0 AS has_stop
         |  FROM t)
         |SELECT doc_id, rep_2gram,
         |  CASE WHEN ntk < 20 THEN 'too_few_tokens'
         |       WHEN ntk > 100000 THEN 'too_many_tokens'
         |       WHEN avg_len < 2.0 THEN 'avg_token_too_short'
         |       WHEN avg_len > 12.0 THEN 'avg_token_too_long'
         |       WHEN rep_2gram > 0.6 THEN 'too_repetitive'
         |       WHEN NOT has_stop THEN 'no_stopwords'
         |       ELSE 'ok' END AS drop_reason,
         |  (CASE WHEN ntk < 20 THEN 'too_few_tokens'
         |       WHEN ntk > 100000 THEN 'too_many_tokens'
         |       WHEN avg_len < 2.0 THEN 'avg_token_too_short'
         |       WHEN avg_len > 12.0 THEN 'avg_token_too_long'
         |       WHEN rep_2gram > 0.6 THEN 'too_repetitive'
         |       WHEN NOT has_stop THEN 'no_stopwords'
         |       ELSE 'ok' END) = 'ok' AS keep
         |FROM r""".stripMargin
    },

    "doc_fingerprint" ->
      s"""WITH $sqlSidsCte
         |SELECT s.doc_id, ${sqlPoly("d.text")} AS fp,
         |  list_min(s.sids) AS fp_min_shingle
         |FROM sids s JOIN documents d ON d.doc_id = s.doc_id""".stripMargin,

    // ordered (non-distinct) shingle hashes, then each length-4
    // window's minimum, deduped per doc — mirrors TextOps.winnow
    // (list_slice end-inclusive == Spark slice(start, length=4))
    "doc_winnow" ->
      s"""WITH toks AS (SELECT doc_id, $sqlToks AS tk FROM documents),
         |sh AS (SELECT doc_id,
         |  list_transform(${sqlShingles("tk")}, s -> ${sqlPoly("s")}) AS sh
         |  FROM toks)
         |SELECT doc_id, unnest(CASE WHEN len(sh) >= 4 THEN
         |    list_distinct(list_transform(range(4, len(sh) + 1),
         |      i -> list_min(list_slice(sh, i - 3, i))))
         |  ELSE [list_min(sh)] END) AS fp
         |FROM sh WHERE len(sh) > 0""".stripMargin,

    "doc_normalize" ->
      """SELECT doc_id, norm_text,
        |  CAST(length(norm_text) AS BIGINT) AS n_chars_norm
        |FROM (SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text), '[.,!?;:]', '', 'g'),
        |    ' +', ' ', 'g')) AS norm_text
        |  FROM documents)""".stripMargin,

    // blocklist: scan-side token filter + the exact cross-multiplied
    // ppm keep verdict (no float threshold to disagree on)
    "doc_blocklist" -> {
      val terms = BlockTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH b0 AS (SELECT doc_id, CAST(len($sqlToks) AS BIGINT) AS n,
         |    CAST(len(list_filter($sqlToks,
         |      t -> list_contains([$terms], t))) AS BIGINT) AS nb
         |  FROM documents)
         |SELECT doc_id, n AS n_tokens, nb AS n_blocked,
         |  round(CAST(nb AS DOUBLE)
         |    / CASE WHEN n = 0 THEN NULL ELSE n END, 6) AS blocked_frac,
         |  nb * 1000000 <= 50000 * n AS keep
         |FROM b0""".stripMargin
    },

    "doc_pii_scrub" -> {
      val email = TextOps.EmailRe
      val phone = TextOps.PhoneRe
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$email')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(text, '$phone')) AS BIGINT) AS n_phones,
         |  regexp_replace(regexp_replace(text, '$email', '<email>', 'g'),
         |    '$phone', '<phone>', 'g') AS scrubbed,
         |  CAST(length(regexp_replace(regexp_replace(text, '$email', '<email>',
         |    'g'), '$phone', '<phone>', 'g')) AS BIGINT) AS n_chars_scrubbed
         |FROM documents""".stripMargin
    },

    "doc_split" ->
      s"""SELECT doc_id,
         |  ${sqlPoly("CAST(doc_id AS VARCHAR)")} % 100 AS bucket,
         |  CASE WHEN ${sqlPoly("CAST(doc_id AS VARCHAR)")} % 100 < 80 THEN 'train'
         |       WHEN ${sqlPoly("CAST(doc_id AS VARCHAR)")} % 100 < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM documents""".stripMargin,

    "doc_reservoir" ->
      s"""WITH rh AS (SELECT doc_id, lang,
         |    ${sqlPoly("CAST(doc_id AS VARCHAR)")} AS hh FROM documents),
         |rr AS (SELECT doc_id, lang, CAST(row_number() OVER (
         |    PARTITION BY lang ORDER BY hh, doc_id) AS INTEGER)
         |    AS sample_rank FROM rh)
         |SELECT doc_id, lang, sample_rank FROM rr
         |WHERE sample_rank <= 5""".stripMargin,

    // min-of-w-hashes weighted sample: same rolling hash over
    // "id#draw", integer weights from the capped token count
    "doc_sample_weighted" ->
      s"""WITH wt AS (SELECT doc_id, CAST(greatest(1, least(16,
         |    len($sqlToks))) AS INTEGER) AS weight FROM documents),
         |pr AS (SELECT doc_id, weight,
         |    list_min(list_transform(range(1, weight + 1), j ->
         |      ${sqlPoly("CAST(doc_id AS VARCHAR) || '#' || CAST(j AS VARCHAR)")}))
         |    AS priority FROM wt)
         |SELECT doc_id, weight, priority FROM pr
         |ORDER BY priority, doc_id LIMIT 25""".stripMargin,

    // count-min grid replayed in full (d=4 rows of width 256, each
    // row re-hashing with its OWN multiplier so pair collisions are
    // row-independent) — the estimates themselves are compared, no
    // literal-TRUE pins; bound arithmetic stays in integers
    // ((est-exact)*width <= depth*N)
    "doc_heavy_hitters" ->
      s"""WITH t AS (SELECT unnest($sqlToks) AS tok FROM documents),
         |h AS (SELECT tok, ${sqlPoly("tok")} AS hh FROM t),
         |cnt AS (SELECT tok, hh, count(*) AS n_exact FROM h GROUP BY 1, 2),
         |top AS (SELECT tok, hh, n_exact FROM cnt
         |  ORDER BY n_exact DESC, tok LIMIT 20),
         |tot AS (SELECT count(*) AS n FROM h),
         |sk AS (SELECT r.r, ((hh * (654664997 + r.r * 97)) % 1000000007) % 256
         |    AS bk, count(*) AS c
         |  FROM h, range(4) r(r) GROUP BY 1, 2),
         |est AS (SELECT top.tok, top.n_exact, min(sk.c) AS n_est
         |  FROM top, range(4) r(r) JOIN sk ON sk.r = r.r
         |    AND sk.bk = ((top.hh * (654664997 + r.r * 97)) % 1000000007) % 256
         |  GROUP BY 1, 2)
         |SELECT CAST(row_number() OVER (ORDER BY n_exact DESC, tok)
         |    AS INTEGER) AS rank,
         |  tok, n_exact, n_est, n_est >= n_exact AS no_underestimate,
         |  (n_est - n_exact) * 256 <= 4 * tot.n AS within_bound
         |FROM est, tot""".stripMargin,

    "doc_sample_stratified" ->
      s"""SELECT doc_id, lang FROM documents
         |WHERE ${sqlPoly("text")} % 100 <
         |  CASE WHEN lang = 'en' THEN 20 ELSE 60 END""".stripMargin,

    // mixture weights: w_s ∝ sqrt(n_s) (sqrt is correctly rounded in
    // both engines, pow is not); the sqrt-sum rounds to 6dp so its
    // accumulation order cannot move a threshold
    "doc_source_mix" ->
      s"""WITH c AS (SELECT source, count(*) AS n FROM documents
         |  GROUP BY source),
         |t AS (SELECT sum(n) AS tot, round(sum(sqrt(CAST(n AS DOUBLE))), 6)
         |  AS ssum FROM c),
         |r AS (SELECT source, CAST(round(least(1.0,
         |    0.5 * tot * sqrt(CAST(n AS DOUBLE)) / ssum / n) * 1000000)
         |  AS BIGINT) AS thr FROM c, t)
         |SELECT d.doc_id, d.source FROM documents d JOIN r USING (source)
         |WHERE ${sqlPoly("text")} % 1000000 < thr""".stripMargin,

    // greedy per-source token-budget knapsack over the shared quality
    // CTE: identical ROWS-frame prefix sum, identical total order
    "doc_token_budget" ->
      s"""WITH $sqlQualityCtes,
         |b AS (SELECT q.doc_id, d.source, q.n_tokens, q.quality,
         |  CAST(sum(q.n_tokens) OVER (PARTITION BY d.source
         |    ORDER BY q.quality DESC, q.doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    AS BIGINT) AS cum_tokens
         |  FROM qual q JOIN documents d USING (doc_id))
         |SELECT doc_id, source, n_tokens, quality, cum_tokens FROM b
         |WHERE cum_tokens <= 800""".stripMargin,

    "doc_lm_score" ->
      s"""WITH $sqlLmCtes
         |SELECT doc_id, n_bigrams, lm_nll FROM lnll""".stripMargin,

    // Kneser-Ney: every model table derives from the one bigram-type
    // agg; the P formula is one fixed left-associative IEEE expression
    // and each ln P snaps to micro-nats before the per-doc sum
    "doc_lm_kn" ->
      s"""WITH ktk AS (SELECT doc_id, $sqlToks AS tk FROM documents),
         |kbg AS (SELECT doc_id, unnest(tk[1:len(tk)-1]) AS w1,
         |    unnest(tk[2:len(tk)]) AS w2 FROM ktk WHERE len(tk) >= 2),
         |kc2 AS (SELECT w1, w2, count(*) AS c2 FROM kbg GROUP BY 1, 2),
         |kl AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1,
         |    count(*) AS t1 FROM kc2 GROUP BY 1),
         |kr AS (SELECT w2, count(*) AS cont FROM kc2 GROUP BY 1),
         |kb AS (SELECT count(*) AS bt FROM kc2),
         |kterm AS (SELECT doc_id, CAST(round(ln(
         |    greatest(CAST(c2 AS DOUBLE) - 0.75, 0.0) / CAST(c1 AS DOUBLE)
         |    + 0.75 * CAST(t1 AS DOUBLE) / CAST(c1 AS DOUBLE)
         |      * CAST(cont AS DOUBLE) / CAST(bt AS DOUBLE))
         |    * 1000000) AS BIGINT) AS tu
         |  FROM kbg JOIN kc2 USING (w1, w2) JOIN kl USING (w1)
         |    JOIN kr USING (w2), kb),
         |ksc AS (SELECT doc_id, count(*) AS nb, sum(tu) AS su
         |  FROM kterm GROUP BY 1)
         |SELECT d.doc_id, CAST(coalesce(ksc.nb, 0) AS BIGINT) AS n_bigrams,
         |  round(-(CAST(su AS DOUBLE)) / 1000000.0 / nb, 6) AS kn_nll
         |FROM documents d LEFT JOIN ksc ON ksc.doc_id = d.doc_id""".stripMargin,

    // novelty: per-doc distinct shingle hashes (the sids convention),
    // first occurrence = min doc_id per hash
    "doc_novelty" ->
      s"""WITH $sqlSidsCte,
         |nh AS (SELECT doc_id, unnest(sids) AS h FROM sids),
         |nf AS (SELECT h, min(doc_id) AS fd FROM nh GROUP BY 1),
         |np AS (SELECT nh.doc_id, count(*) AS n_ngrams,
         |    CAST(sum(CASE WHEN fd = nh.doc_id THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_novel
         |  FROM nh JOIN nf USING (h) GROUP BY 1)
         |SELECT d.doc_id,
         |  CAST(coalesce(np.n_ngrams, 0) AS BIGINT) AS n_ngrams,
         |  CAST(coalesce(np.n_novel, 0) AS BIGINT) AS n_novel,
         |  CASE WHEN np.n_ngrams IS NULL THEN NULL
         |    ELSE round(CAST(np.n_novel AS DOUBLE)
         |      / CAST(np.n_ngrams AS DOUBLE), 6) END AS novelty
         |FROM documents d LEFT JOIN np ON np.doc_id = d.doc_id""".stripMargin,

    // run lengths over the sorted token list = per-type counts; each
    // entropy term snaps to micro-nats before the in-list exact sum
    "doc_entropy" ->
      s"""WITH et AS (SELECT doc_id, list_sort($sqlToks) AS s FROM documents),
         |e2 AS (SELECT doc_id, s, len(s) AS n,
         |    list_filter(range(1, len(s)+1),
         |      i -> i = 1 OR s[i] != s[i-1]) AS st FROM et),
         |e3 AS (SELECT doc_id, n, list_transform(range(1, len(st)+1),
         |    j -> coalesce(st[j+1], n+1) - st[j]) AS lens FROM e2),
         |e4 AS (SELECT doc_id, n, list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(lens, L -> CAST(round(CAST(L AS DOUBLE) / n
         |      * ln(CAST(L AS DOUBLE) / n) * 1000000) AS BIGINT))),
         |    (a, b) -> a + b) AS su FROM e3)
         |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
         |  CASE WHEN n = 0 THEN NULL
         |    ELSE round(-(CAST(su AS DOUBLE)) / 1000000.0, 6) + 0.0
         |  END AS entropy
         |FROM e4""".stripMargin,

    // hashed-feature linear classifier: unigram polyHashes + bigram
    // shingle hashes mod 2^16, per-bucket micro-unit weights mixed from
    // the bucket id (TextOps.hashWeightU), exact integer sum then one
    // rounded division — same micro-unit convention as lm/entropy
    "doc_classify" ->
      s"""WITH ct AS (SELECT doc_id, $sqlToks AS tk FROM documents),
         |cf AS (SELECT doc_id, $sqlFeatureBuckets AS fb
         |  FROM ct),
         |cs AS (SELECT doc_id, len(fb) AS nf,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(fb,
         |        b -> (b * 2654435761) % 2147483648 % 2000001 - 1000000)),
         |      (a, b) -> a + b) AS su FROM cf)
         |SELECT doc_id, CAST(nf AS BIGINT) AS n_feats,
         |  CASE WHEN nf = 0 THEN NULL
         |    ELSE round(CAST(su AS DOUBLE) / 1000000.0 / nf, 6) + 0.0
         |  END AS margin,
         |  CASE WHEN nf = 0 THEN NULL WHEN su > 0 THEN 'keep'
         |    ELSE 'drop' END AS label
         |FROM cs""".stripMargin,

    // one-step-from-zero logistic training + scoring: errU is exactly
    // +-500000 (sigmoid(0)=1/2), every later quantity is 64-bit
    // integer arithmetic plus the shared round() conventions
    "doc_classify_trained" ->
      s"""WITH ct AS (SELECT doc_id,
         |    CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
         |    $sqlToks AS tk FROM documents),
         |cf AS (SELECT doc_id, y, $sqlFeatureBuckets AS fb FROM ct),
         |ce AS (SELECT doc_id, y, fb, len(fb) AS n,
         |    CAST(round((0.5 - y) * 1000000) AS BIGINT) AS errU
         |  FROM cf WHERE len(fb) > 0),
         |cx AS (SELECT unnest(fb) AS bucket,
         |    CAST(round(CAST(errU AS DOUBLE) / n) AS BIGINT) AS tU
         |  FROM ce),
         |g AS (SELECT bucket, sum(tU) AS gU FROM cx GROUP BY bucket),
         |nd AS (SELECT count(*) AS ndocs FROM ce),
         |w1 AS (SELECT bucket,
         |    CAST(0 - round(0.5 * gU / ndocs) AS BIGINT) AS w
         |  FROM g, nd),
         |sx AS (SELECT doc_id, unnest(fb) AS bucket FROM cf),
         |ss AS (SELECT sx.doc_id, count(*) AS nf,
         |    sum(coalesce(w1.w, 0)) AS su
         |  FROM sx LEFT JOIN w1 USING (bucket) GROUP BY sx.doc_id)
         |SELECT d.doc_id, CAST(coalesce(ss.nf, 0) AS BIGINT) AS n_feats,
         |  CASE WHEN coalesce(ss.nf, 0) = 0 THEN NULL
         |    ELSE round(CAST(ss.su AS DOUBLE) / 1000000.0 / ss.nf, 6) + 0.0
         |  END AS margin,
         |  CASE WHEN coalesce(ss.nf, 0) = 0 THEN NULL
         |    WHEN ss.su > 0 THEN 'keep' ELSE 'drop' END AS label
         |FROM documents d LEFT JOIN ss ON ss.doc_id = d.doc_id""".stripMargin,

    // calibration sweep: the one-step weight chain (doc_classify_
    // trained's CTEs, scored-docs-only), exact quantile thresholds
    // per keep fraction (quantile_cont over the 6dp margins — the
    // doc_quality_filter parity convention), then conditional counts
    // per (frac, threshold) over the scored set
    "doc_classify_calibration" ->
      s"""WITH ct AS (SELECT doc_id,
         |    CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
         |    $sqlToks AS tk FROM documents),
         |cf AS (SELECT doc_id, y, $sqlFeatureBuckets AS fb FROM ct),
         |ce AS MATERIALIZED (SELECT doc_id, y, fb, len(fb) AS n,
         |    CAST(round((0.5 - y) * 1000000) AS BIGINT) AS errU
         |  FROM cf WHERE len(fb) > 0),
         |cx AS (SELECT unnest(fb) AS bucket,
         |    CAST(round(CAST(errU AS DOUBLE) / n) AS BIGINT) AS tU
         |  FROM ce),
         |g AS (SELECT bucket, sum(tU) AS gU FROM cx GROUP BY bucket),
         |nd AS (SELECT count(*) AS ndocs FROM ce),
         |w1 AS (SELECT bucket,
         |    CAST(0 - round(0.5 * gU / ndocs) AS BIGINT) AS w
         |  FROM g, nd),
         |sx AS (SELECT doc_id, unnest(fb) AS bucket FROM ce),
         |ss AS (SELECT sx.doc_id, count(*) AS nf,
         |    sum(coalesce(w1.w, 0)) AS su
         |  FROM sx LEFT JOIN w1 USING (bucket) GROUP BY sx.doc_id),
         |sm AS MATERIALIZED (SELECT ce.doc_id, ce.y,
         |    round(CAST(ss.su AS DOUBLE) / 1000000.0 / ss.nf, 6) + 0.0
         |      AS margin
         |  FROM ce JOIN ss USING (doc_id)),
         |thr AS (SELECT round(quantile_cont(margin, 0.9), 6) AS t0,
         |    round(quantile_cont(margin, 0.75), 6) AS t1,
         |    round(quantile_cont(margin, 0.5), 6) AS t2,
         |    round(quantile_cont(margin, 0.25), 6) AS t3,
         |    round(quantile_cont(margin, 0.1), 6) AS t4 FROM sm),
         |cuts AS (SELECT CAST(0.1 AS DOUBLE) AS keep_frac, t0 AS threshold FROM thr
         |  UNION ALL SELECT CAST(0.25 AS DOUBLE), t1 FROM thr
         |  UNION ALL SELECT CAST(0.5 AS DOUBLE), t2 FROM thr
         |  UNION ALL SELECT CAST(0.75 AS DOUBLE), t3 FROM thr
         |  UNION ALL SELECT CAST(0.9 AS DOUBLE), t4 FROM thr)
         |SELECT keep_frac, threshold,
         |  CAST(count(*) AS BIGINT) AS n_scored,
         |  CAST(sum(CASE WHEN margin >= threshold THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_keep,
         |  CAST(sum(CASE WHEN margin >= threshold AND y = 1.0 THEN 1
         |    ELSE 0 END) AS BIGINT) AS tp,
         |  CAST(sum(CASE WHEN margin >= threshold AND y = 0.0 THEN 1
         |    ELSE 0 END) AS BIGINT) AS fp,
         |  CASE WHEN sum(CASE WHEN margin >= threshold THEN 1 ELSE 0 END) > 0
         |    THEN round(CAST(sum(CASE WHEN margin >= threshold AND y = 1.0
         |        THEN 1 ELSE 0 END) AS DOUBLE)
         |      / sum(CASE WHEN margin >= threshold THEN 1 ELSE 0 END), 6)
         |      + 0.0 END AS precision,
         |  CASE WHEN sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) > 0
         |    THEN round(CAST(sum(CASE WHEN margin >= threshold AND y = 1.0
         |        THEN 1 ELSE 0 END) AS DOUBLE)
         |      / sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END), 6) + 0.0
         |  END AS recall
         |FROM sm, cuts GROUP BY 1, 2""".stripMargin,

    // multi-epoch training + held-out eval: three sqlTrainEpoch
    // replays of TextOps.trainStep on the hash-split train slice
    // (epoch 1's sigmoid input is exactly 0 so it stays
    // transcendental-free; epochs 2-3 evaluate exp on the 6dp-snapped
    // margin — declared float posture), then w3 scores the test slice
    // and one row of confusion counts + accuracy/base_rate reads out
    "doc_classify_train_eval" ->
      s"""WITH ct AS (SELECT doc_id,
         |    CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
         |    ${sqlPoly("CAST(doc_id AS VARCHAR)")} % 100 AS bkt,
         |    $sqlToks AS tk FROM documents),
         |cf AS MATERIALIZED (SELECT doc_id, y, bkt,
         |    $sqlFeatureBuckets AS fb FROM ct),
         |tr AS MATERIALIZED (SELECT doc_id, y, fb, len(fb) AS n FROM cf
         |  WHERE bkt < 80 AND len(fb) > 0),
         |tx AS MATERIALIZED (SELECT doc_id, unnest(fb) AS bucket FROM tr),
         |nd AS (SELECT count(*) AS ndocs FROM tr),
         |w0 AS (SELECT CAST(NULL AS BIGINT) AS bucket,
         |    CAST(NULL AS BIGINT) AS w WHERE false),
         |${sqlTrainEpoch(1, "w0")},
         |${sqlTrainEpoch(2, "w1")},
         |${sqlTrainEpoch(3, "w2")},
         |te AS (SELECT doc_id, y, fb, len(fb) AS nf FROM cf
         |  WHERE bkt >= 90),
         |sx AS (SELECT doc_id, unnest(fb) AS bucket FROM te),
         |ss AS (SELECT sx.doc_id, sum(coalesce(w3.w, 0)) AS su
         |  FROM sx LEFT JOIN w3 USING (bucket) GROUP BY sx.doc_id),
         |sc AS (SELECT te.doc_id, te.y, te.nf,
         |    CASE WHEN coalesce(te.nf, 0) = 0 THEN NULL
         |         WHEN ss.su > 0 THEN 'keep' ELSE 'drop' END AS label
         |  FROM te LEFT JOIN ss USING (doc_id)),
         |ag AS (SELECT count(*) AS n_test,
         |    CAST(coalesce(sum(CASE WHEN nf > 0 THEN 1 ELSE 0 END), 0)
         |      AS BIGINT) AS n_scored,
         |    CAST(coalesce(sum(CASE WHEN label = 'keep' AND y = 1.0
         |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS tp,
         |    CAST(coalesce(sum(CASE WHEN label = 'keep' AND y = 0.0
         |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS fp,
         |    CAST(coalesce(sum(CASE WHEN label = 'drop' AND y = 0.0
         |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS tn,
         |    CAST(coalesce(sum(CASE WHEN label = 'drop' AND y = 1.0
         |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS fn,
         |    CAST(coalesce(sum(CASE WHEN nf > 0 AND y = 1.0
         |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_en
         |  FROM sc)
         |SELECT n_test, n_scored, tp, fp, tn, fn,
         |  CASE WHEN n_scored > 0
         |    THEN round(CAST(tp + tn AS DOUBLE) / n_scored, 6) + 0.0
         |  END AS accuracy,
         |  CASE WHEN n_scored > 0
         |    THEN round(CAST(greatest(n_en, n_scored - n_en) AS DOUBLE)
         |      / n_scored, 6) + 0.0
         |  END AS base_rate
         |FROM ag""".stripMargin,

    // DSIR: per-bucket micro-nat-snapped log terms, exact integer
    // per-doc accumulation su − n·cu, one rounded division — the
    // lm_score parity convention over the classifier's feature buckets
    "doc_dsir" ->
      s"""WITH dt AS (SELECT doc_id,
         |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         |    $sqlToks AS tk FROM documents),
         |df0 AS (SELECT doc_id, y, $sqlFeatureBuckets AS fb FROM dt),
         |dx AS (SELECT doc_id, y, unnest(fb) AS b FROM df0),
         |dbc AS (SELECT b, count(*) AS craw, sum(y) AS ctgt
         |  FROM dx GROUP BY b),
         |dbw AS (SELECT b,
         |    CAST(round(ln(ctgt + 0.5) * 1000000) AS BIGINT)
         |      - CAST(round(ln(craw + 0.5) * 1000000) AS BIGINT) AS wu
         |  FROM dbc),
         |dcu AS (SELECT
         |    CAST(round(ln(sum(ctgt) + 0.5 * 65536) * 1000000) AS BIGINT)
         |      - CAST(round(ln(sum(craw) + 0.5 * 65536) * 1000000) AS BIGINT)
         |      AS cu
         |  FROM dbc),
         |dds AS (SELECT doc_id, count(*) AS n, sum(wu) AS su
         |  FROM dx JOIN dbw USING (b) GROUP BY doc_id)
         |SELECT d.doc_id, CAST(coalesce(dds.n, 0) AS BIGINT) AS n_feats,
         |  CASE WHEN dds.n IS NULL THEN NULL
         |    ELSE round(CAST(su - n * cu AS DOUBLE) / 1000000.0 / n, 6) + 0.0
         |  END AS dsir_logw
         |FROM documents d LEFT JOIN dds ON dds.doc_id = d.doc_id, dcu""".stripMargin,

    "doc_ccnet_bucket" ->
      s"""WITH $sqlLmCtes,
         |lth AS (SELECT round(quantile_cont(lm_nll, 1.0/3), 6) AS t1,
         |    round(quantile_cont(lm_nll, 2.0/3), 6) AS t2
         |  FROM lnll WHERE lm_nll IS NOT NULL)
         |SELECT doc_id, lm_nll, CASE WHEN lm_nll IS NULL THEN NULL
         |  WHEN lm_nll <= t1 THEN 'head' WHEN lm_nll <= t2 THEN 'middle'
         |  ELSE 'tail' END AS ppl_bucket
         |FROM lnll, lth""".stripMargin,

    "doc_vocab" ->
      s"""WITH toks AS (SELECT doc_id, unnest($sqlToks) AS token FROM documents),
         |v AS (SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df_docs
         |  FROM toks GROUP BY token),
         |r AS (SELECT CAST(row_number() OVER (ORDER BY tf DESC, token)
         |    AS INTEGER) AS rank, token, tf, df_docs FROM v)
         |SELECT rank, token, tf, df_docs FROM r WHERE rank <= 50""".stripMargin,

    // distinct-n diversity: shingle strings joined by one space then
    // poly-hashed — mirrors the native shingle hasher bit-for-bit
    "doc_distinct_ngrams" ->
      s"""WITH dtk AS (SELECT source, $sqlToks AS tk FROM documents),
         |sg AS (
         |  SELECT source, 1 AS n, unnest(tk) AS s FROM dtk
         |  UNION ALL
         |  SELECT source, 2, unnest(list_transform(range(1, len(tk)),
         |    i -> array_to_string(list_slice(tk, i, i + 1), ' '))) FROM dtk
         |  UNION ALL
         |  SELECT source, 3, unnest(list_transform(range(1, len(tk) - 1),
         |    i -> array_to_string(list_slice(tk, i, i + 2), ' '))) FROM dtk),
         |sh AS (SELECT source AS grp, n, ${sqlPoly("s")} AS h FROM sg)
         |SELECT grp, n, count(*) AS total_ngrams,
         |  count(DISTINCT h) AS distinct_ngrams,
         |  round(CAST(count(DISTINCT h) AS DOUBLE) / count(*), 6)
         |    AS distinct_ratio
         |FROM sh GROUP BY grp, n""".stripMargin,

    // Zipf fit: ln-quantized integer moment sums (the dsir convention)
    // then one double division — sum order cannot move the result
    "doc_zipf" ->
      s"""WITH ztk AS (SELECT unnest($sqlToks) AS token FROM documents),
         |zv AS (SELECT token, count(*) AS tf FROM ztk GROUP BY token),
         |zr AS (SELECT tf, row_number() OVER (ORDER BY tf DESC, token)
         |    AS rank FROM zv ORDER BY tf DESC, token LIMIT 1000),
         |zq AS (SELECT CAST(round(ln(rank) * 1000000) AS BIGINT) AS x6,
         |    CAST(round(ln(tf) * 1000000) AS BIGINT) AS y6 FROM zr),
         |za AS (SELECT count(*) AS n, sum(x6) AS sx, sum(y6) AS sy,
         |    sum(x6 * y6) AS sxy, sum(x6 * x6) AS sxx, sum(y6 * y6) AS syy
         |  FROM zq),
         |zf AS (SELECT n, sx, sy,
         |    CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cov,
         |    CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS vx,
         |    CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
         |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vy
         |  FROM za)
         |SELECT n, round(cov / vx, 6) AS zipf_slope,
         |  round((CAST(sy AS DOUBLE) - cov / vx * CAST(sx AS DOUBLE))
         |    / CAST(n AS DOUBLE) / 1000000.0, 6) AS intercept,
         |  round(cov * cov / (vx * vy), 6) AS r2
         |FROM zf""".stripMargin,

    // PMI from ln-quantized integer terms: pmi6 = l(c_ab) + 2 l(N_tok)
    // - l(N_big) - l(c_a) - l(c_b); integer combination is exact
    "doc_pmi" ->
      s"""WITH ptk AS (SELECT $sqlToks AS tk FROM documents),
         |pbp AS (SELECT unnest(list_transform(range(1, len(tk)),
         |    i -> struct_pack(a := tk[i], b := tk[i + 1]))) AS p FROM ptk),
         |ppc AS (SELECT p.a AS tok_a, p.b AS tok_b, count(*) AS n_pair
         |  FROM pbp GROUP BY 1, 2 HAVING count(*) >= 5),
         |puc AS (SELECT t, count(*) AS cnt FROM
         |  (SELECT unnest(tk) AS t FROM ptk) GROUP BY t),
         |ptot AS (SELECT CAST(sum(len(tk)) AS BIGINT) AS n_tok,
         |    CAST(sum(greatest(len(tk) - 1, 0)) AS BIGINT) AS n_big
         |  FROM ptk),
         |pj AS (SELECT tok_a, tok_b, n_pair, ua.cnt AS n_a, ub.cnt AS n_b,
         |    n_tok, n_big
         |  FROM ppc JOIN puc ua ON ua.t = ppc.tok_a
         |    JOIN puc ub ON ub.t = ppc.tok_b, ptot)
         |SELECT tok_a, tok_b, n_pair, n_a, n_b,
         |  round((CAST(round(ln(n_pair) * 1000000) AS BIGINT)
         |    + 2 * CAST(round(ln(n_tok) * 1000000) AS BIGINT)
         |    - CAST(round(ln(n_big) * 1000000) AS BIGINT)
         |    - CAST(round(ln(n_a) * 1000000) AS BIGINT)
         |    - CAST(round(ln(n_b) * 1000000) AS BIGINT)) / 1000000.0, 6)
         |    AS pmi
         |FROM pj ORDER BY pmi DESC, tok_a, tok_b LIMIT 50""".stripMargin,

    // BPE merge statistics: word-frequency table first, char pairs
    // over the word table (substr is char-based 1-indexed in both
    // engines), count-desc/pair-asc top-k — mirrors TextOps.bpePairs
    "doc_bpe_step" ->
      s"""WITH btk AS (SELECT unnest($sqlToks) AS w FROM documents),
         |bwc AS (SELECT w, count(*) AS wn FROM btk GROUP BY w),
         |bpp AS (SELECT wn, unnest(list_transform(range(1, len(w)),
         |    i -> substr(w, CAST(i AS INTEGER), 2))) AS pair
         |  FROM bwc WHERE len(w) >= 2),
         |bpc AS (SELECT pair, CAST(sum(wn) AS BIGINT) AS merge_count
         |  FROM bpp GROUP BY pair)
         |SELECT pair, merge_count FROM bpc
         |ORDER BY merge_count DESC, pair LIMIT 50""".stripMargin,

    // replays the ENTIRE 3-round training loop: vocab, then per round
    // pair counts + argmax + the leftmost-non-overlapping merge fold
    "doc_bpe_train" ->
      s"""WITH btk AS (SELECT unnest($sqlToks) AS w FROM documents),
         |bwc AS (SELECT w, count(*) AS wn FROM btk GROUP BY w),
         |bt0 AS (SELECT w, wn, array_to_string(list_transform(
         |    range(1, len(w) + 1), i -> substr(w, CAST(i AS INTEGER), 1)),
         |    ' ') AS seq
         |  FROM bwc),
         |${sqlBpeRound(1)},
         |${sqlBpeRound(2)},
         |${sqlBpeRound(3)}
         |SELECT 1 AS step, a AS sym_a, b AS sym_b, c AS merge_count
         |  FROM bm1
         |UNION ALL SELECT 2, a, b, c FROM bm2
         |UNION ALL SELECT 3, a, b, c FROM bm3""".stripMargin,

    // the trained word table applied back to the corpus: per doc, the
    // post-merge token count and the chars-per-token the merges buy
    "doc_bpe_apply" ->
      s"""WITH btk AS (SELECT unnest($sqlToks) AS w FROM documents),
         |bwc AS (SELECT w, count(*) AS wn FROM btk GROUP BY w),
         |bt0 AS (SELECT w, wn, array_to_string(list_transform(
         |    range(1, len(w) + 1), i -> substr(w, CAST(i AS INTEGER), 1)),
         |    ' ') AS seq
         |  FROM bwc),
         |${sqlBpeRound(1)},
         |${sqlBpeRound(2)},
         |${sqlBpeRound(3)},
         |bav AS (SELECT w, CAST(len(w) AS BIGINT) AS wc,
         |    CAST(len(string_split(seq, ' ')) AS BIGINT) AS ns
         |  FROM bt3),
         |bad AS (SELECT doc_id, unnest($sqlToks) AS w FROM documents)
         |SELECT d.doc_id, count(*) AS n_words,
         |  CAST(sum(v.wc) AS BIGINT) AS n_chars,
         |  CAST(sum(v.ns) AS BIGINT) AS n_tokens,
         |  round(CAST(sum(v.wc) AS DOUBLE) / CAST(sum(v.ns) AS DOUBLE), 6)
         |    AS chars_per_token
         |FROM bad d JOIN bav v USING (w) GROUP BY 1""".stripMargin,

    "doc_length_quantiles" ->
      s"""WITH d AS (SELECT lang, n_chars, CAST(len($sqlToks) AS BIGINT)
         |    AS n_tokens FROM documents)
         |SELECT lang,
         |  round(quantile_cont(n_chars, 0.1), 6) AS p10_chars,
         |  round(quantile_cont(n_chars, 0.5), 6) AS p50_chars,
         |  round(quantile_cont(n_chars, 0.9), 6) AS p90_chars,
         |  round(quantile_cont(n_tokens, 0.5), 6) AS p50_tokens,
         |  round(avg(n_tokens), 6) AS avg_tokens,
         |  count(*) AS n_docs
         |FROM d GROUP BY lang""".stripMargin,

    "emb_knn_brute" ->
      s"""WITH ${sqlBruteCtes(5)}
         |SELECT query_id, rank, neighbor_id, round(cos, 6) AS cos
         |FROM brute""".stripMargin,

    "emb_knn_lsh" ->
      s"""WITH $sqlLshCtes,
         |lr AS (${sqlTopK("lj", "cos", 3, cols = "query_id, neighbor_id, cos")})
         |SELECT query_id, rank, neighbor_id, round(cos, 6) AS cos
         |FROM lr""".stripMargin,

    "emb_mips" ->
      s"""WITH ${sqlBruteCtes(5, "ip")}
         |SELECT query_id, rank, neighbor_id, round(ip, 6) AS ip
         |FROM brute""".stripMargin,

    // mirrors the norm-augmentation banding exactly: corpus vectors
    // padded with sqrt(M^2 - |x|^2), queries with 0, buckets over
    // dim+1 coordinates; candidates scored by the exact dot product
    "emb_mips_lsh" ->
      s"""WITH $sqlMipsLshCtes
         |SELECT query_id, rank, neighbor_id, round(ip, 6) AS ip
         |FROM mr WHERE rank <= 3""".stripMargin,

    // composes the brute raw-dot chain (truth) and the augmented-LSH
    // chain verbatim, so the eval cannot drift from the index it
    // measures
    "emb_mips_recall" ->
      s"""WITH $sqlMipsLshCtes,
         |${sqlBruteCtes(3, "ip")},
         |ml AS (SELECT query_id, neighbor_id FROM mr WHERE rank <= 3)
         |${sqlRecall("brute", Seq("" -> "ml"))}""".stripMargin,

    "emb_knn_ivf" ->
      s"""WITH $sqlIvfCtes,
         |j AS (SELECT query_id, neighbor_id,
         |    ${sqlDot("qv", "nv")} / (qn * nn) AS cos
         |  FROM ccell JOIN qcell USING (cid)
         |  WHERE neighbor_id <> query_id),
         |r AS (${sqlTopK("j", "cos", 3, cols = "query_id, neighbor_id, cos")})
         |SELECT query_id, rank, neighbor_id, round(cos, 6) AS cos
         |FROM r""".stripMargin,

    // lake round trip: the z-ordered rewrite + manifest-pruned read
    // must equal the raw-table predicate scan — any file the manifest
    // wrongly skips (or double-reads) changes the row multiset
    "lake_zorder_read" ->
      """SELECT event_id, user_id, event_type, value FROM events
        |WHERE user_id >= 3 AND user_id <= 12""".stripMargin,

    // post-merge content recomputed from the raw table: matched keys
    // (%10==2) carry the transformed text, other evens the original,
    // %10==1 keys are the inserts
    "lake_merge_read" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 10 = 2 THEN 'U:' || substr(text, 1, 20)
        |       ELSE text END AS text
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT doc_id, 'U:' || substr(text, 1, 20)
        |FROM documents WHERE doc_id % 10 = 1""".stripMargin,

    // post-stream content recomputed from the raw table: %10==4 evens
    // carry the seq-2 'S2:' text (within-batch latest wins), %10==2
    // evens the batch-2 'U:' update, other evens the bootstrap
    // original, %10==1 keys are the batch-2 inserts; compaction and
    // retention must not change a byte of it
    "lake_stream_merge_read" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 10 = 2 THEN 'U:' || substr(text, 1, 20)
        |       WHEN doc_id % 10 = 4 THEN 'S2:' || substr(text, 1, 10)
        |       ELSE text END AS text
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT doc_id, 'U:' || substr(text, 1, 20)
        |FROM documents WHERE doc_id % 10 = 1""".stripMargin,

    // snapshot membership recomputed from the raw table: v1 = the even
    // half, v2 = both commits = the whole table
    "lake_snapshot_read" ->
      """SELECT CAST(1 AS INTEGER) AS version,
        |  count(*) AS n_docs,
        |  CAST(coalesce(sum(length(text)), 0) AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL SELECT CAST(2 AS INTEGER),
        |  count(*),
        |  CAST(coalesce(sum(length(text)), 0) AS BIGINT)
        |FROM documents""".stripMargin,

    // persisted-index search is definitionally the same computation as
    // emb_knn_ivf (the index just materializes ccell) — same oracle
    "emb_knn_ivf_indexed" ->
      s"""WITH $sqlIvfCtes,
         |j AS (SELECT query_id, neighbor_id,
         |    ${sqlDot("qv", "nv")} / (qn * nn) AS cos
         |  FROM ccell JOIN qcell USING (cid)
         |  WHERE neighbor_id <> query_id),
         |r AS (${sqlTopK("j", "cos", 3, cols = "query_id, neighbor_id, cos")})
         |SELECT query_id, rank, neighbor_id, round(cos, 6) AS cos
         |FROM r""".stripMargin,

    "emb_knn_ivf_learned" ->
      s"""WITH $sqlIvfLearnedCtes,
         |j AS (SELECT query_id, neighbor_id,
         |    ${sqlDot("qv", "nv")} / (qn * nn) AS cos
         |  FROM klcell JOIN kqcell USING (cid)
         |  WHERE neighbor_id <> query_id),
         |r AS (${sqlTopK("j", "cos", 3, cols = "query_id, neighbor_id, cos")})
         |SELECT query_id, rank, neighbor_id, round(cos, 6) AS cos
         |FROM r""".stripMargin,

    // the three index legs are verbatim re-statements of the
    // emb_knn_{brute,lsh,ivf} oracle chains at k=3 (same helpers, same
    // tie-breaks), so the recall eval cannot drift from the indexes it
    // measures
    "emb_dim_tradeoff" -> {
      val dims = Seq(32, 16)
      val legCtes = dims.map { d =>
        s"""t${d}j AS (SELECT query_id, neighbor_id,
           |    ${sqlCosN("qv", "nv", d)} AS cos
           |  FROM c, q WHERE neighbor_id <> query_id),
           |d$d AS (${sqlTopK(s"t${d}j", "cos", 3)})""".stripMargin
      }.mkString(",\n")
      s"""WITH ${sqlBruteCtes(3)},
         |$legCtes
         |${sqlRecall("brute", dims.map(d => s"dim$d" -> s"d$d"), byMethod = true)}""".stripMargin
    },

    "emb_ann_recall" ->
      s"""WITH ${sqlBruteCtes(3)},
         |$sqlLshCtes,
         |lsh AS (${sqlTopK("lj", "cos", 3)}),
         |$sqlIvfCtes,
         |ij AS (SELECT query_id, neighbor_id,
         |    ${sqlDot("qv", "nv")} / (qn * nn) AS cos
         |  FROM ccell JOIN qcell USING (cid) WHERE neighbor_id <> query_id),
         |ivf AS (${sqlTopK("ij", "cos", 3)}),
         |$sqlIvfLearnedCtes,
         |klj AS (SELECT query_id, neighbor_id,
         |    ${sqlDot("qv", "nv")} / (qn * nn) AS cos
         |  FROM klcell JOIN kqcell USING (cid) WHERE neighbor_id <> query_id),
         |ivfl AS (${sqlTopK("klj", "cos", 3)}),
         |$sqlIvfCandCte,
         |$sqlIvfPqAdcCtes,
         |pq3 AS (SELECT query_id, neighbor_id FROM r WHERE rank <= 3),
         |$sqlIvfPqResidualCtes,
         |pqres3 AS (SELECT query_id, neighbor_id FROM rr WHERE rank <= 3),
         |$sqlPqLearnedCtes,
         |$sqlPqLearnedAdcCtes,
         |pql3 AS (SELECT query_id, neighbor_id FROM lpfin WHERE rank <= 3),
         |prr0 AS (SELECT lp.query_id, lp.neighbor_id,
         |    ${sqlDot("q0.qv", "c0.nv")} / (q0.qn * c0.nn) AS cos
         |  FROM lpfin lp JOIN q0 USING (query_id)
         |  JOIN c0 ON c0.neighbor_id = lp.neighbor_id
         |  WHERE lp.rank <= 15),
         |pqr3 AS (${sqlTopK("prr0", "cos", 3)}),
         |$sqlSqCtes,
         |sq3 AS (SELECT query_id, neighbor_id FROM sqfin WHERE rank <= 3)
         |${sqlRecall("brute", Seq("lsh" -> "lsh", "ivf" -> "ivf",
              "ivf_learned" -> "ivfl", "ivf_pq" -> "pq3",
              "ivf_pq_residual" -> "pqres3", "ivf_pq_learned" -> "pql3",
              "ivf_pq_rerank" -> "pqr3", "sq" -> "sq3"), byMethod = true)}""".stripMargin,

    // greedy MMR unrolled: 5 chained selects, each appending the FIRST
    // index attaining the max score; weights are decimal literals both
    // engines parse to the same doubles (never 1-lambda arithmetic)
    "emb_mmr" -> {
      def score(sel: String) =
        s"""list_transform(range(1, len(cands) + 1), ii ->
           |  CASE WHEN list_contains($sel, ii) THEN NULL ELSE
           |    0.7 * cands[ii].rel - 0.3 * (CASE WHEN len($sel) = 0
           |      THEN 0.0 ELSE list_max(list_transform($sel, jj ->
           |        ${sqlDot("cands[ii].cvec", "cands[jj].cvec")}
           |          / (cands[ii].cn * cands[jj].cn))) END)
           |  END)""".stripMargin
      def stepSql(n: Int): String = {
        val prev = if (n == 1) "mm0" else s"mm${n - 1}"
        s"""mm$n AS (SELECT query_id, cands, list_append(sel,
           |    list_position(${score("sel")}, list_max(${score("sel")})))
           |    AS sel
           |  FROM $prev)""".stripMargin
      }
      s"""WITH mq AS (SELECT vec_id AS query_id, embedding AS qv,
         |    sqrt(${sqlDot("embedding", "embedding")}) AS qn
         |  FROM embeddings WHERE ${sqlAnnQueries()}),
         |mc0 AS (SELECT vec_id AS cid, embedding AS cvec,
         |    sqrt(${sqlDot("embedding", "embedding")}) AS cn
         |  FROM embeddings),
         |mj AS (SELECT query_id, cid, cvec, cn,
         |    ${sqlDot("qv", "cvec")} / (qn * cn) AS rel
         |  FROM mc0, mq WHERE cid <> query_id),
         |mr AS (SELECT query_id, cid, cvec, cn, rel,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY rel DESC, cid) AS rk
         |  FROM mj),
         |ma AS (SELECT query_id, list(struct_pack(rk := rk, cid := cid,
         |      cvec := cvec, cn := cn, rel := rel) ORDER BY rk) AS cands
         |  FROM mr WHERE rk <= 20 GROUP BY query_id),
         |mm0 AS (SELECT query_id, cands, CAST([] AS BIGINT[]) AS sel
         |  FROM ma),
         |${stepSql(1)},
         |${stepSql(2)},
         |${stepSql(3)},
         |${stepSql(4)},
         |${stepSql(5)},
         |mo AS (SELECT query_id, unnest(list_transform(range(1, 6), r ->
         |    struct_pack(sel_rank := r,
         |      neighbor_id := cands[CAST(sel[CAST(r AS INTEGER)]
         |        AS INTEGER)].cid,
         |      rel := round(cands[CAST(sel[CAST(r AS INTEGER)]
         |        AS INTEGER)].rel, 6)))) AS o
         |  FROM mm5)
         |SELECT query_id, o.sel_rank AS sel_rank,
         |  o.neighbor_id AS neighbor_id, o.rel AS rel
         |FROM mo""".stripMargin
    },

    // the probe legs reuse the shared IVF CTEs; qcell (crk<=2) IS the
    // probe_2 leg, the others re-slice the same assignment ranking
    "emb_ivf_probe_curve" -> {
      val probes = Seq(1 -> "pq1", 2 -> "qcell", 4 -> "pq4")
      val legCtes = probes.map { case (p, qc) =>
        s"""pj$p AS (SELECT query_id, neighbor_id,
           |    ${sqlDot("qv", "nv")} / (qn * nn) AS cos
           |  FROM ccell JOIN $qc USING (cid) WHERE neighbor_id <> query_id),
           |pt$p AS (${sqlTopK(s"pj$p", "cos", 3)})""".stripMargin
      }.mkString(",\n")
      s"""WITH ${sqlBruteCtes(3)},
         |$sqlIvfCtes,
         |pq1 AS (SELECT query_id, qv, qn, cid FROM qa WHERE crk <= 1),
         |pq4 AS (SELECT query_id, qv, qn, cid FROM qa WHERE crk <= 4),
         |$legCtes
         |${sqlRecall("brute", probes.map { case (p, _) => s"probe_$p" -> s"pt$p" })}""".stripMargin
    },

    // nTables dial: per-leg candidates = pairs colliding in any table
    // tb < t (the absolute-plane-index family makes the t-table
    // geometry literally a prefix of the 4-table banding)
    "emb_lsh_table_curve" -> {
      val tables = Seq(1, 2, 4)
      val legCtes = tables.map { t =>
        s"""lp$t AS (SELECT query_id, neighbor_id, max(cos) AS cos
           |  FROM ltj WHERE tb < $t GROUP BY 1, 2),
           |lt$t AS (${sqlTopK(s"lp$t", "cos", 3)})""".stripMargin
      }.mkString(",\n")
      s"""WITH ${sqlBruteCtes(3)},
         |$sqlLshBandCte,
         |ltq AS (SELECT vec_id AS query_id, embedding AS qv, tb, bk FROM lb
         |  WHERE ${sqlAnnQueries()}),
         |ltc AS (SELECT vec_id AS neighbor_id, embedding AS nv, tb, bk
         |  FROM lb),
         |ltj AS (SELECT tb, query_id, neighbor_id,
         |    ${sqlCos("qv", "nv")} AS cos
         |  FROM ltc JOIN ltq USING (tb, bk) WHERE neighbor_id <> query_id),
         |$legCtes
         |${sqlRecall("brute", tables.map(t => s"tables_$t" -> s"lt$t"), byMethod = true)}""".stripMargin
    },

    "emb_label_centroid" ->
      s"""WITH e AS (SELECT label,
         |    unnest(range(1, len(embedding) + 1)) AS dim,
         |    unnest(embedding) AS v
         |  FROM embeddings)
         |SELECT label, dim, round(avg(CAST(v AS DOUBLE)), 6) AS c
         |FROM e GROUP BY label, dim""".stripMargin,

    // centroid components quantize to 6dp-scaled ints first; the
    // dot/norm/shift sums are exact integer arithmetic, one double
    // division/sqrt at the end — sum order cannot move the hash
    "emb_drift" ->
      s"""WITH e AS (SELECT label, vec_id % 2 = 0 AS ref,
         |    unnest(range(1, len(embedding) + 1)) AS dim,
         |    unnest(embedding) AS v
         |  FROM embeddings),
         |p AS (SELECT label, dim,
         |    CAST(round(avg(CASE WHEN ref THEN CAST(v AS DOUBLE) END)
         |      * 1000000) AS BIGINT) AS ca6,
         |    CAST(round(avg(CASE WHEN NOT ref THEN CAST(v AS DOUBLE) END)
         |      * 1000000) AS BIGINT) AS cb6,
         |    count(CASE WHEN ref THEN 1 END) AS na,
         |    count(CASE WHEN NOT ref THEN 1 END) AS nb
         |  FROM e GROUP BY label, dim),
         |a AS (SELECT label, max(na) AS n_ref, max(nb) AS n_cur,
         |    sum(ca6 * cb6) AS dot, sum(ca6 * ca6) AS ssa,
         |    sum(cb6 * cb6) AS ssb,
         |    sum((ca6 - cb6) * (ca6 - cb6)) AS sd
         |  FROM p GROUP BY label)
         |SELECT label, n_ref, n_cur,
         |  round(CAST(dot AS DOUBLE)
         |    / (sqrt(CAST(ssa AS DOUBLE)) * sqrt(CAST(ssb AS DOUBLE))), 6)
         |    AS centroid_cos,
         |  round(sqrt(CAST(sd AS DOUBLE)) / 1000000.0, 6) AS shift_l2
         |FROM a""".stripMargin,

    // two unrolled Lloyd rounds via the shared kmeans CTEs (centroids
    // rounded to 6dp between rounds exactly like Knn.kmeans, ties
    // break on min centroid id); the final assignment reads kc1
    "emb_kmeans" ->
      s"""WITH $sqlKmeansCtes,
         |ka2 AS (${sqlKmeansAssign("kc1")})
         |SELECT vid AS vec_id, cid AS cluster_id, round(cos, 6) AS cos
         |FROM ka2""".stripMargin,

    // topic clustering: hashed 16-bucket token-count vectors (float-
    // exact integers) through the same two-round Lloyd replay as
    // emb_kmeans — √n-auto-strided seeding over the NON-EMPTY doc
    // frame (the corpus Knn.kmeans counts), max-cosine min-cid
    // assignment, 6dp centroid means
    "doc_topic_cluster" -> {
      def assign(cents: String): String =
        s"""SELECT vid, cid, cos FROM (SELECT kvd.vid, c.cid,
           |    ${sqlCosN("kvd.v", "c.cvec", 16)} AS cos,
           |    row_number() OVER (PARTITION BY kvd.vid
           |      ORDER BY ${sqlCosN("kvd.v", "c.cvec", 16)} DESC, c.cid)
           |      AS rn
           |  FROM kvd, $cents c) WHERE rn = 1""".stripMargin
      s"""WITH tct AS (SELECT doc_id, $sqlToks AS tk FROM documents),
         |kvd AS (SELECT doc_id AS vid,
         |    list_transform(range(0, 16), j ->
         |      CAST(len(list_filter(tk, t -> ${sqlPoly("t")} % 16 = j))
         |        AS FLOAT)) AS v
         |  FROM tct WHERE len(tk) > 0),
         |kcd0 AS (SELECT vid AS cid,
         |    list_transform(v, x -> CAST(x AS DOUBLE)) AS cvec
         |  FROM kvd WHERE vid % (SELECT greatest(1,
         |      CAST(ceil(sqrt(count(*))) AS BIGINT),
         |      CAST(ceil(count(*) / 65536.0) AS BIGINT)) FROM kvd)
         |    = (1 % (SELECT greatest(1,
         |      CAST(ceil(sqrt(count(*))) AS BIGINT),
         |      CAST(ceil(count(*) / 65536.0) AS BIGINT)) FROM kvd))),
         |kad1 AS (${assign("kcd0")}),
         |ked1 AS (SELECT kad1.cid, unnest(range(1, 17)) AS dim,
         |    unnest(list_transform(kvd.v, x -> CAST(x AS DOUBLE))) AS x
         |  FROM kad1 JOIN kvd ON kvd.vid = kad1.vid),
         |kmd1 AS (SELECT cid, dim, round(avg(x), 6) AS c FROM ked1
         |  GROUP BY cid, dim),
         |kcd1 AS (SELECT cid, list(c ORDER BY dim) AS cvec FROM kmd1
         |  GROUP BY cid),
         |kad2 AS (${assign("kcd1")})
         |SELECT vid AS doc_id, cid AS cluster_id, round(cos, 6) AS cos
         |FROM kad2""".stripMargin
    },

    // bottom-decile assignment cosines via the same kmeans CTEs; the
    // threshold is the exact lower element at floor((n-1)·0.1) of the
    // sorted 6dp cosines — percentileMethod('lower') index arithmetic
    "emb_outliers" ->
      s"""WITH $sqlKmeansCtes,
         |ka2 AS (${sqlKmeansAssign("kc1")}),
         |aa AS (SELECT vid, cid, round(cos, 6) AS cos FROM ka2),
         |th AS (SELECT (list_sort(list(cos)))[
         |    CAST(floor((count(*) - 1) * 0.1) AS INTEGER) + 1] AS thr
         |  FROM aa)
         |SELECT vid AS vec_id, cid AS cluster_id, cos,
         |  cos <= th.thr AS is_outlier
         |FROM aa, th""".stripMargin,

    // SemDeDup via the shared kmeans CTEs: intra-cluster pairs at
    // cosine >= 0.3; each pair drops the member with the HIGHER
    // 6dp-rounded centroid cosine (keep-farthest-from-centroid, ties
    // keep the lower id) — the comparison uses the rounded value on
    // both engines so the drop set cannot drift
    "emb_semdedup" ->
      s"""WITH $sqlKmeansCtes,
         |ka2 AS (${sqlKmeansAssign("kc1")}),
         |a2 AS (SELECT vid, cid, round(cos, 6) AS ccos FROM ka2),
         |e AS (SELECT vec_id, embedding FROM embeddings),
         |p AS (SELECT a.vid AS id_a, b.vid AS id_b,
         |    a.ccos AS ca, b.ccos AS cb
         |  FROM a2 a JOIN a2 b ON a.cid = b.cid AND a.vid < b.vid
         |  JOIN e ea ON ea.vec_id = a.vid
         |  JOIN e eb ON eb.vec_id = b.vid
         |  WHERE ${sqlCos("ea.embedding", "eb.embedding")} >= 0.3),
         |d AS (SELECT DISTINCT CASE WHEN ca < cb OR (ca = cb AND id_a < id_b)
         |    THEN id_b ELSE id_a END AS vid FROM p)
         |SELECT a2.vid AS vec_id, a2.cid AS cluster_id,
         |  a2.ccos AS centroid_cos, d.vid IS NULL AS keep
         |FROM a2 LEFT JOIN d ON d.vid = a2.vid""".stripMargin,

    // per-cluster top-8 by ASCENDING rounded centroid cosine
    // (farthest-from-centroid kept), vid tie-break — shares the
    // kmeans CTEs verbatim with emb_kmeans/emb_semdedup
    "emb_cluster_sample" ->
      s"""WITH $sqlKmeansCtes,
         |ka2 AS (${sqlKmeansAssign("kc1")}),
         |a2 AS (SELECT vid, cid, round(cos, 6) AS ccos FROM ka2),
         |rs AS (SELECT vid, cid, ccos, CAST(row_number() OVER
         |    (PARTITION BY cid ORDER BY ccos, vid) AS INTEGER) AS rk
         |  FROM a2)
         |SELECT vid AS vec_id, cid AS cluster_id, ccos AS centroid_cos, rk
         |FROM rs WHERE rk <= 8""".stripMargin,

    // blocks are the AUTO-sized LSH cells (sqlAutoLshBandCte): the
    // oracle re-derives the plane count from count(*) with the exact
    // integer formula Knn.autoPlanes uses, mirrors the blocking, then
    // dedups multi-table collisions with max() like the Spark side
    "emb_dedup_cosine" ->
      s"""WITH $sqlAutoLshBandCte,
         |p0 AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM alb a JOIN alb b ON a.tb = b.tb AND a.bk = b.bk
         |    AND a.vec_id < b.vec_id),
         |pc AS (SELECT id_a, id_b,
         |    ${sqlCos("ea.embedding", "eb.embedding")} AS cos
         |  FROM p0 JOIN embeddings ea ON ea.vec_id = p0.id_a
         |    JOIN embeddings eb ON eb.vec_id = p0.id_b)
         |SELECT id_a, id_b, round(max(cos), 6) AS cos
         |FROM pc WHERE cos >= 0.3 GROUP BY 1, 2""".stripMargin,

    // kNN graph: hub cells beyond the 500 cap split into id-hashed
    // sub-buckets (the Spark side's exact salt arithmetic), candidate
    // pairs from co-(cell, salt) both directions, multi-table dups
    // collapsed by max() (the dedup-cosine idiom), then the
    // per-source rank window (the union-of-local-top-k stage is a
    // pure optimization — global rank over the same candidates)
    "emb_knn_graph" ->
      s"""WITH $sqlKnnGraphCtes
         |SELECT src, rank, dst, round(cos, 6) AS cos
         |FROM g2 WHERE rank <= 3""".stripMargin,

    // ANN-graph centrality: the shared graph chain's edges, then two
    // damped rounds — per-edge contributions µ-snapped to BIGINT
    // before the dst-keyed sum, scores rounded 6dp per round, exactly
    // the Spark fold
    "emb_graph_rank" ->
      s"""WITH $sqlKnnGraphCtes,
         |ge AS (SELECT src, dst FROM g2 WHERE rank <= 3),
         |gdeg AS (SELECT src, count(*) AS d FROM ge GROUP BY src),
         |gn AS (SELECT vec_id AS id FROM embeddings),
         |gp0 AS (SELECT id, 1.0 AS pr FROM gn),
         |gi1 AS (SELECT e.dst AS id,
         |    SUM(CAST(round(p.pr / dg.d * 1000000) AS BIGINT)) AS s6
         |  FROM ge e JOIN gp0 p ON p.id = e.src
         |  JOIN gdeg dg ON dg.src = e.src GROUP BY e.dst),
         |gp1 AS (SELECT n.id, round(0.15 + 0.85
         |    * (CAST(coalesce(i.s6, 0) AS DOUBLE) / 1000000.0), 6) AS pr
         |  FROM gn n LEFT JOIN gi1 i USING (id)),
         |gi2 AS (SELECT e.dst AS id,
         |    SUM(CAST(round(p.pr / dg.d * 1000000) AS BIGINT)) AS s6
         |  FROM ge e JOIN gp1 p ON p.id = e.src
         |  JOIN gdeg dg ON dg.src = e.src GROUP BY e.dst),
         |gp2 AS (SELECT n.id, round(0.15 + 0.85
         |    * (CAST(coalesce(i.s6, 0) AS DOUBLE) / 1000000.0), 6) AS pr
         |  FROM gn n LEFT JOIN gi2 i USING (id))
         |SELECT p.id AS vec_id,
         |  CAST(coalesce(dg.d, 0) AS BIGINT) AS out_deg, p.pr
         |FROM gp2 p LEFT JOIN gdeg dg ON dg.src = p.id""".stripMargin,

    // the fixed 4-plane geometry pinned against the shared lb cells
    // (sqlLshBandCte) — exactly the ANN index's registered cells
    "emb_dedup_cosine_fixed" ->
      s"""WITH gemb AS (SELECT vec_id, embedding FROM embeddings
         |  WHERE (SELECT count(*) FROM embeddings) <= $EmbDedupFixedMaxVecs
         |    OR vec_id < $BaseIdMax),
         |${sqlLshBandCteFrom("gemb")},
         |p0 AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |    ${sqlCos("a.embedding", "b.embedding")} AS cos
         |  FROM lb a JOIN lb b ON a.tb = b.tb AND a.bk = b.bk
         |    AND a.vec_id < b.vec_id
         |  WHERE ${sqlCos("a.embedding", "b.embedding")} >= 0.3)
         |SELECT id_a, id_b, round(max(cos), 6) AS cos
         |FROM p0 GROUP BY 1, 2""".stripMargin,

    "emb_quantize" ->
      s"""WITH d AS (SELECT i FROM range(1, ${EmbDim + 1}) t(i)),
         |s AS (SELECT i, min(CAST(embedding[i] AS DOUBLE)) AS mn,
         |    max(CAST(embedding[i] AS DOUBLE)) AS mx
         |  FROM embeddings, d GROUP BY i),
         |a AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs
         |  FROM s)
         |SELECT vec_id, array_to_string(list_transform(embedding, (x, i) ->
         |  CAST(CASE WHEN mxs[i] = mns[i] THEN 0
         |    ELSE CAST(floor((CAST(x AS DOUBLE) - mns[i]) / (mxs[i] - mns[i])
         |      * CAST(255.0 AS DOUBLE)) AS INTEGER) END AS VARCHAR)), ',')
         |  AS codes
         |FROM embeddings, a""".stripMargin,

    // PCA power iteration, 2 unrolled rounds: cross-row sums are
    // per-row micro-unit snaps summed as BIGINT (order-independent),
    // per-row dots are the shared index-order fold, v re-rounds to 6dp
    // after each normalization — mirrors Knn.pcaTop exactly
    "emb_pca" ->
      s"""WITH $sqlPcaCtes
         |SELECT CAST(i AS BIGINT) AS dim, v[i] AS v FROM pv2, pd""".stripMargin,

    // all-but-the-top: the shared pca chain's mean + direction, then
    // a scan-side projection; outputs mirror Knn.abtt exactly
    "emb_abtt" ->
      s"""WITH $sqlPcaCtes,
         |ab0 AS (SELECT e.vec_id,
         |    list_transform(range(1, ${EmbDim + 1}),
         |      i -> CAST(e.embedding[i] AS DOUBLE) - m.mu[i]) AS xc,
         |    p.v AS v
         |  FROM embeddings e, pmu m, pv2 p),
         |ab1 AS (SELECT vec_id, xc, v, ${sqlDot("xc", "v")} AS s FROM ab0),
         |ab2 AS (SELECT vec_id, s, xc,
         |    list_transform(range(1, ${EmbDim + 1}),
         |      i -> xc[i] - s * v[i]) AS xr
         |  FROM ab1)
         |SELECT vec_id, round(s, 6) AS proj,
         |  round(sqrt(${sqlDot("xc", "xc")}), 6) AS norm_centered,
         |  round(sqrt(${sqlDot("xr", "xr")}), 6) AS norm_abtt
         |FROM ab2""".stripMargin,

    // PQ: the subspace distance is the shared sqlSubL2 fold; the err2
    // fold runs in subspace order on both sides
    "emb_pq" -> sqlPqStoreSql,

    // LEARNED PQ: the shared seeded-then-one-Lloyd-update codebook
    // chain (6dp-rounded means, min-cid tie-break) re-assigns the
    // corpus; codes CSV + err2 fold in subspace order on both sides
    "emb_pq_learned" -> sqlPqLearnedStoreSql,

    // the distortion dial: each arm re-runs one store's FULL chain
    // verbatim (the three store defs above) and folds err2 as exact
    // µ-unit BIGINTs — the same order-independent total the Spark
    // side computes
    "emb_pq_err_curve" ->
      Seq("pq" -> sqlPqStoreSql, "pq_learned" -> sqlPqLearnedStoreSql,
          "pq_permuted" -> sqlPqPermutedStoreSql).map { case (v, sql) =>
        s"""SELECT '$v' AS variant, count(*) AS n,
           |  round(CAST(sum(CAST(round(err2 * 1000000) AS BIGINT))
           |    AS DOUBLE) / 1000000.0, 6) AS err2_total,
           |  round(CAST(sum(CAST(round(err2 * 1000000) AS BIGINT))
           |    AS DOUBLE) / 1000000.0 / count(*), 6) AS err2_avg
           |FROM ($sql)""".stripMargin
      }.mkString("\nUNION ALL\n"),

    // permuted PQ: the exact integer variance key (per-row µ-snaps
    // summed as BIGINT, s2·n·1e6 − s1² in DECIMAL(38,0) — the PCA
    // convention) ranks dims, round-robin deal, then the emb_pq chain
    // over the permuted vectors
    "emb_pq_permuted" -> sqlPqPermutedStoreSql,

    // whitening: mean = Σround(x·1e6)/1e6/n (the pca convention), σ
    // from the DECIMAL(38,0) variance key clamped at 0; coordinates
    // as exact µ-unit BIGINTs in dim order
    "emb_whiten" ->
      s"""WITH wstat AS (SELECT i,
         |    SUM(CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000)
         |      AS BIGINT)) AS s1,
         |    SUM(CAST(round(CAST(embedding[i] AS DOUBLE)
         |      * CAST(embedding[i] AS DOUBLE) * 1000000)
         |      AS BIGINT)) AS s2,
         |    count(*) AS n
         |  FROM embeddings, range(1, ${EmbDim + 1}) t(i) GROUP BY i),
         |wsd AS (SELECT i,
         |    CAST(s1 AS DOUBLE) / 1000000.0 / n AS m,
         |    sqrt(greatest(CAST(CAST(s2 AS DECIMAL(38,0)) * n * 1000000
         |      - CAST(s1 AS DECIMAL(38,0)) * s1 AS DOUBLE), 0.0))
         |      / 1000000.0 / n AS sd
         |  FROM wstat)
         |SELECT e.vec_id,
         |  string_agg(CAST(CASE WHEN w.sd = 0 THEN 0
         |    ELSE CAST(round((CAST(e.embedding[w.i] AS DOUBLE) - w.m)
         |      / w.sd * 1000000) AS BIGINT) END AS VARCHAR),
         |    ',' ORDER BY w.i) AS w6
         |FROM embeddings e, wsd w
         |GROUP BY e.vec_id""".stripMargin,

    // RQ: both codebooks replayed from the corpus + its count (level-2
    // centroids are the every-Nth RESIDUALS + the zero codeword);
    // full-dim L2 folds in index order, argmin ties on centroid id
    "emb_rq" ->
      s"""WITH $sqlRqCtes
         |SELECT vec_id, cid1, cid2, round(err1, 6) AS err1,
         |  round(d2, 6) AS err2
         |FROM rb2 WHERE rn = 1""".stripMargin,

    // rq recall: brute truth + the full two-stage rq_search chain
    // (shared CTEs verbatim) + the tiny pair join and 1-row agg
    "emb_rq_recall" ->
      s"""WITH $sqlRqSearchCtes,
         |${sqlBruteCtes(3)},
         |rtop AS (SELECT query_id, neighbor_id FROM rfin WHERE rank <= 3)
         |${sqlRecall("brute", Seq("" -> "rtop"))}""".stripMargin,

    // RQ-flat serving: the shared RQ chain's winner rebuilds the
    // c1+c2 reconstruction; approx-cos top-15, exact rerank top-3
    // (the emb_sq_search two-stage tail)
    "emb_rq_search" ->
      s"""WITH $sqlRqSearchCtes
         |SELECT query_id, rank, neighbor_id, round(cos, 6) AS cos
         |FROM rfin WHERE rank <= 3""".stripMargin,

    // IVF-PQ: coarse cells from the shared IVF CTEs; candidates ranked
    // by the ADC table (per-query distance to every (subspace, code)
    // pair) summed in subspace order — rank on the raw fold, adist
    // surfaced at 6dp, exactly like the Spark side
    "emb_ivf_pq" ->
      s"""WITH $sqlIvfCtes,
         |$sqlIvfCandCte,
         |$sqlIvfPqAdcCtes
         |SELECT query_id, rank, neighbor_id, round(adist, 6) AS adist
         |FROM r WHERE rank <= 3""".stripMargin,

    // residual IVFADC: the shared coarse cells' residuals (corpus AND
    // per-probed-cell query residuals), codebook = residuals of the
    // ids ≡ 0 mod pqEvery (the offset stride), ADC join keyed on the
    // candidate's OWN cell — mirrors Knn.ivfPqResidualTopK (chain
    // shared verbatim with emb_ann_recall's ivf_pq_residual leg)
    "emb_ivf_pq_residual" ->
      s"""WITH $sqlIvfCtes,
         |$sqlIvfPqResidualCtes
         |SELECT query_id, rank, neighbor_id, round(adist, 6) AS adist
         |FROM rr WHERE rank <= 3""".stripMargin,

    // SQ8 flat search: dequantized-cosine stage ranks top-15 with
    // quantizeInt8's exact floor-code arithmetic, exact-cosine rerank
    // picks the final top-3 — mirrors Knn.sqSearchTopK (shared chain
    // with emb_ann_recall's sq leg)
    "emb_sq_search" ->
      s"""WITH $sqlSqCtes
         |SELECT query_id, rank, neighbor_id, round(cos, 6) AS cos
         |FROM sqfin WHERE rank <= 3""".stripMargin,

    // k-center: the full greedy trajectory replayed round by round —
    // seed = min id, then 7 unrolled argmin-of-running-max-cos picks
    "emb_kcenter" -> {
      val rows = (2 to 8).map(i =>
        s"UNION ALL SELECT CAST($i AS INTEGER), id, round(1 - mc, 6) FROM kp$i")
        .mkString("\n")
      s"""WITH ${sqlKcenterCtes(8)}
         |SELECT CAST(1 AS INTEGER) AS sel_rank, id AS vec_id,
         |  CAST(NULL AS DOUBLE) AS cov FROM kp1
         |$rows""".stripMargin
    },

    // the production k-center: identical greedy replay restricted to
    // the √n-strided pool (the same auto stride every coarse codebook
    // derives from count(*)) — mirrors Knn.kCenterSampled
    "emb_kcenter_sampled" -> {
      val rows = (2 to 8).map(i =>
        s"UNION ALL SELECT CAST($i AS INTEGER), id, round(1 - mc, 6) FROM kp$i")
        .mkString("\n")
      s"""WITH ${sqlKcenterCtes(8, s" WHERE vec_id % $sqlCoarseEvery = (1 % $sqlCoarseEvery)")}
         |SELECT CAST(1 AS INTEGER) AS sel_rank, id AS vec_id,
         |  CAST(NULL AS DOUBLE) AS cov FROM kp1
         |$rows""".stripMargin
    },

    // binary store: sign words vs the round-6 per-dim corpus means,
    // MSB-first fold replayed by list_reduce (integer-exact)
    "emb_bq" ->
      s"""WITH $sqlBqCtes
         |SELECT neighbor_id AS vec_id, nbw[1] AS w0, nbw[2] AS w1
         |FROM bqc""".stripMargin,

    // binary-first serving: Hamming top-15 over the packed words,
    // exact-cosine rerank to top-3 — mirrors Knn.bqSearchTopK
    "emb_bq_search" ->
      s"""WITH $sqlBqCtes
         |SELECT query_id, rank, neighbor_id, ham, round(cos, 6) AS cos
         |FROM bqfin WHERE rank <= 3""".stripMargin,

    // bq recall: the full binary two-stage chain (shared CTEs
    // verbatim) vs the brute truth + the tiny pair join and 1-row agg
    "emb_bq_recall" ->
      s"""WITH $sqlBqCtes,
         |${sqlBruteCtes(3)},
         |bqtop AS (SELECT query_id, neighbor_id FROM bqfin WHERE rank <= 3)
         |${sqlRecall("brute", Seq("" -> "bqtop"))}""".stripMargin,

    // two-stage serving: LEARNED-codebook ADC top-15 (the shared
    // lpfin chain — Knn.ivfPqRerankTopK's candidates come from the
    // learned store, recall 0.47 vs sampled 0.40), then exact cosine
    // against the true vectors (q0/c0 from the IVF CTEs) picks the
    // final top-3 — mirrors Knn.ivfPqRerankTopK
    "emb_ivf_pq_rerank" ->
      s"""WITH $sqlIvfCtes,
         |$sqlIvfCandCte,
         |$sqlPqLearnedCtes,
         |$sqlPqLearnedAdcCtes,
         |rr0 AS (SELECT lp.query_id, lp.neighbor_id,
         |    ${sqlDot("q0.qv", "c0.nv")} / (q0.qn * c0.nn) AS cos
         |  FROM lpfin lp JOIN q0 USING (query_id)
         |  JOIN c0 ON c0.neighbor_id = lp.neighbor_id
         |  WHERE lp.rank <= 15),
         |rr AS (${sqlTopK("rr0", "cos", 3, cols = "query_id, neighbor_id, cos")})
         |SELECT query_id, rank, neighbor_id, round(cos, 6) AS cos
         |FROM rr""".stripMargin,

    "doc_pipeline" -> {
      def lst(words: Seq[String]): String = words.map(w => s"'$w'").mkString(", ")
      s"""WITH t AS (SELECT doc_id, text, $sqlToks AS tk,
         |  CAST(length(text) AS DOUBLE) AS nc,
         |  CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
         |    AS DOUBLE) AS np,
         |  CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
         |    AS DOUBLE) AS nd
         |  FROM documents),
         |sc AS (SELECT doc_id, text, nc, np, nd, len(tk) AS ntk,
         |  len(list_filter(tk, x -> list_contains([${lst(TextOps.StopEn)}], x))) AS s_en,
         |  len(list_filter(tk, x -> list_contains([${lst(TextOps.StopDe)}], x))) AS s_de,
         |  len(list_filter(tk, x -> list_contains([${lst(TextOps.StopFr)}], x))) AS s_fr,
         |  len(list_filter(tk, x -> list_contains([${lst(TextOps.StopEs)}], x))) AS s_es
         |  FROM t),
         |q AS (SELECT doc_id, text, ntk,
         |  CASE WHEN s_en + s_de + s_fr + s_es = 0 THEN 'und'
         |       WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
         |       WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
         |       WHEN s_fr >= s_es THEN 'fr'
         |       ELSE 'es' END AS pred_lang,
         |  round(least(1.0, greatest(0.0,
         |    0.2 + 0.05 * ((nc - (ntk - 1)) / ntk) - 2.0 * (np / nc)
         |      - 1.0 * (nd / nc) + 0.5 * (CAST(s_en AS DOUBLE) / ntk))), 6)
         |    AS quality
         |  FROM sc),
         |f AS (SELECT * FROM q WHERE quality >= 0.3),
         |d AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY text
         |    ORDER BY doc_id DESC) AS rn FROM f) WHERE rn = 1)
         |SELECT pred_lang, count(*) AS n_docs,
         |  CAST(sum(ntk) AS BIGINT) AS total_tokens,
         |  round(avg(quality), 6) AS avg_quality
         |FROM d GROUP BY pred_lang""".stripMargin
    },

    "ts_convert" ->
      s"""SELECT event_id,
         |  '1h-' || CAST($EvUs // 3600000000 AS VARCHAR) AS idx,
         |  $EvUs - 300000000 AS ts_begin,
         |  $EvUs + 300000000 AS ts_end,
         |  (($EvUs - 300000000) + ($EvUs + 300000000)) // 2 AS ts_mid
         |FROM events WHERE event_type = 'signup'""".stripMargin,

    "mm_meta" ->
      s"""SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         |  64 + ${sqlPoly("text")} % 512 AS width,
         |  64 + (${sqlPoly("text")} // 512) % 512 AS height,
         |  1 + ${sqlPoly("text")} % 8 AS n_frames
         |FROM documents""".stripMargin,

    // sha256 over the utf-8 payload bytes on both sides (DuckDB
    // sha256(VARCHAR) hashes the utf-8 encoding; encode() makes the
    // byte-length explicit)
    "mm_dedup" ->
      """SELECT doc_id, sha256(text) AS content_sha,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  doc_id = min(doc_id) OVER (PARTITION BY sha256(text)) AS keep
        |FROM documents""".stripMargin,

    // the aHash pipeline restated from the SAME constants
    // (PhashPixels/PhashBandBits, HashMul/HashMod): pixels -> exact
    // integer mean-threshold bits -> banding -> hamming verify
    "mm_phash" ->
      s"""WITH $sqlPhashCtes
         |SELECT id_a, id_b, hamming FROM pp WHERE hamming <= 3""".stripMargin,

    // connected components over the hamming<=3 pairs — the
    // doc_dedup_cluster walk (UNION-deduped reachability, label = min
    // reachable id) over the phash edge list
    "mm_phash_cluster" ->
      s"""WITH RECURSIVE $sqlPhashCtes,
         |mpairs AS (SELECT id_a, id_b FROM pp WHERE hamming <= 3),
         |medges AS (SELECT id_a AS u, id_b AS v FROM mpairs
         |  UNION SELECT id_b, id_a FROM mpairs),
         |mwalk AS (SELECT u, v AS lbl FROM medges
         |  UNION
         |  SELECT e.u, w.lbl FROM medges e JOIN mwalk w ON w.u = e.v),
         |mcomp AS (SELECT u, min(lbl) AS cluster_id FROM mwalk GROUP BY u)
         |SELECT d.doc_id,
         |  coalesce(c.cluster_id, d.doc_id) AS cluster_id,
         |  d.doc_id = coalesce(c.cluster_id, d.doc_id) AS is_canonical
         |FROM documents d LEFT JOIN mcomp c ON c.u = d.doc_id""".stripMargin,

    // the narrow 16-bit/8-bit-band test geometry, same chain
    "mm_phash_narrow" ->
      s"""WITH ${sqlPhashCtesN(16, 8, "documents")}
         |SELECT id_a, id_b, hamming FROM pp WHERE hamming <= 3""".stripMargin,

    // the production 64-bit / 16-bit-band geometry over the corpus
    // plus planted payload copies; identical chain, wider constants
    "mm_phash_wide" ->
      s"""WITH pdocs AS (SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + $PlantedIdOff, text FROM documents
         |  WHERE doc_id % 50 = 0),
         |${sqlPhashCtesN(64, 16, "pdocs")}
         |SELECT id_a, id_b, hamming FROM pp WHERE hamming <= 3""".stripMargin,

    // banding recall vs the exact hamming<=3 ground truth over the
    // SAME hashes (shared CTEs): the eval that keeps the byte-banded
    // candidate generator honest, like doc_dedup_eval for text
    "mm_phash_eval" ->
      s"""WITH $sqlPhashCtes,
         |ex AS (SELECT count(*) AS n_true FROM ph a JOIN ph b
         |  ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.phash, b.phash)) <= 3),
         |fo AS (SELECT count(*) AS n_found FROM pp WHERE hamming <= 3)
         |SELECT n_true, n_found,
         |  round(CAST(n_found AS DOUBLE) / nullif(n_true, 0), 6) AS recall
         |FROM ex, fo""".stripMargin,

    // fixed-probe recall: planted base-copy re-encodes are the probe
    // set, truth = probes x corpus only (never all pairs) — the
    // production eval geometry, same CTE chain over the planted frame
    "mm_phash_eval_sampled" ->
      s"""WITH pdocs AS (SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + $PlantedIdOff, text FROM documents
         |  WHERE doc_id % 50 = 0 AND doc_id < $BaseIdMax),
         |${sqlPhashCtesN(64, 16, "pdocs")},
         |probes AS (SELECT doc_id AS id_p, phash AS ph_p FROM ph
         |  WHERE doc_id >= $PlantedIdOff),
         |tr AS (SELECT DISTINCT least(p.id_p, c.doc_id) AS id_a,
         |    greatest(p.id_p, c.doc_id) AS id_b
         |  FROM ph c JOIN probes p ON c.doc_id <> p.id_p
         |  WHERE bit_count(xor(p.ph_p, c.phash)) <= 3),
         |ca AS (SELECT DISTINCT id_a, id_b FROM pp WHERE hamming <= 3)
         |SELECT n_truth AS n_true, n_hits, recall FROM (
         |${sqlRecall("tr", Seq("" -> "ca"), keys = Seq("id_a", "id_b"))})"""
        .stripMargin,

    // per-doc most frequent bigram counted per shingle HASH (the
    // MinHash/Jaccard unit — mirrors the Spark side's long-array
    // runs); tie-break cnt DESC, hash DESC; the winning gram string
    // is the hash's FIRST occurrence (arg_min by position = Spark's
    // array_position recovery); LEFT JOIN keeps gram-less docs
    "doc_repetition" ->
      s"""WITH t AS (SELECT doc_id, text, $sqlToks AS tk FROM documents),
         |g AS (SELECT doc_id, text, tk, unnest(range(1, len(tk))) AS i FROM t),
         |g2 AS (SELECT doc_id, i, array_to_string(tk[i:i+1], ' ') AS gram
         |  FROM g),
         |hh AS (SELECT doc_id, i, gram, ${sqlPoly("gram")} AS hs FROM g2),
         |c AS (SELECT doc_id, hs, count(*) AS cnt, arg_min(gram, i) AS gram
         |  FROM hh GROUP BY 1, 2),
         |b AS (SELECT doc_id, gram, cnt FROM c QUALIFY row_number() OVER
         |  (PARTITION BY doc_id ORDER BY cnt DESC, hs DESC) = 1)
         |SELECT d.doc_id, b.gram AS top_gram, b.cnt AS top_cnt,
         |  round(CAST(b.cnt AS DOUBLE) * length(b.gram) / length(d.text), 6)
         |    AS top_frac
         |FROM documents d LEFT JOIN b ON d.doc_id = b.doc_id""".stripMargin,

    // threshold on the UNROUNDED cosine, like the Spark side; cos
    // surfaces round-6
    "emb_range_search" ->
      s"""SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |  round(${sqlCos("q.embedding", "c.embedding")}, 6) AS cos
         |FROM embeddings c,
         |  (SELECT * FROM embeddings WHERE ${sqlAnnQueries()}) q
         |WHERE c.vec_id <> q.vec_id
         |  AND ${sqlCos("q.embedding", "c.embedding")} >= 0.2""".stripMargin,

    // the shared lj CTE IS the LSH candidate set (same cells as
    // emb_knn_lsh / emb_dedup_cosine); the radius filter replaces the
    // top-k rank
    "emb_range_search_lsh" ->
      s"""WITH $sqlLshCtes
         |SELECT query_id, neighbor_id, round(cos, 6) AS cos
         |FROM lj WHERE cos >= 0.2""".stripMargin,

    // window size / multiplier / modulus interpolated from the SAME
    // constants the Spark side uses (Multimodal.AudioWinSize,
    // TextOps.HashMul/HashMod); every quantity is 64-bit integer
    // arithmetic, so the stub waveform and its features are exact
    "mm_audio" ->
      s"""WITH m AS (SELECT doc_id, ${sqlPoly("text")} AS h FROM documents),
         |aa AS (SELECT doc_id, h, 64 + h % 64 AS n FROM m),
         |ax AS (SELECT doc_id, h, n, unnest(range(n)) AS i FROM aa),
         |av AS (SELECT doc_id, n, i // ${Multimodal.AudioWinSize} AS win_idx,
         |    ((h * ${TextOps.HashMul} + i) % ${TextOps.HashMod})
         |      % 2001 - 1000 AS smp
         |  FROM ax)
         |SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
         |  CAST(win_idx AS BIGINT) AS win_idx,
         |  CAST(sum(smp * smp) AS BIGINT) AS energy,
         |  CAST(max(abs(smp)) AS BIGINT) AS peak
         |FROM av GROUP BY doc_id, n, win_idx""".stripMargin,

    // constellation fingerprints over the SAME PCM chain as mm_audio
    // (shared constants): window peaks -> consecutive-pair codes
    // peak*1001+next, distinct per doc, df-capped 2..16, containment
    "mm_audio_dedup" ->
      s"""WITH adocs AS (SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + $PlantedIdOff, text FROM documents
         |  WHERE doc_id % 50 = 0 AND doc_id < $BaseIdMax),
         |m AS (SELECT doc_id, ${sqlPoly("text")} AS h FROM adocs),
         |aa AS (SELECT doc_id, h, 64 + h % 64 AS n FROM m),
         |ax AS (SELECT doc_id, h, n, unnest(range(n)) AS i FROM aa),
         |av AS (SELECT doc_id, i // ${Multimodal.AudioWinSize} AS win_idx,
         |    ((h * ${TextOps.HashMul} + i) % ${TextOps.HashMod})
         |      % 2001 - 1000 AS smp
         |  FROM ax),
         |aw AS (SELECT doc_id, win_idx, max(abs(smp)) AS peak
         |  FROM av GROUP BY 1, 2),
         |al AS (SELECT doc_id, peak, lead(peak) OVER (
         |    PARTITION BY doc_id ORDER BY win_idx) AS np FROM aw),
         |af AS (SELECT DISTINCT doc_id,
         |    CAST(peak * 1001 + np AS BIGINT) AS fp
         |  FROM al WHERE np IS NOT NULL),
         |${sqlPostingPairs("af", "fp", Some(16))}
         |$sqlOverlapSelect""".stripMargin,

    // step / multiplier / modulus interpolated from the SAME constants
    // the Spark side uses (MmFramesEveryKth, TextOps.HashMul/HashMod) —
    // changing either side cannot silently break parity
    "mm_frames" ->
      s"""WITH m AS (SELECT doc_id, ${sqlPoly("text")} AS fp FROM documents),
         |f AS (SELECT doc_id, fp, 1 + fp % 8 AS n_frames FROM m),
         |x AS (SELECT doc_id, fp, n_frames,
         |  unnest(range(0, n_frames, $MmFramesEveryKth)) AS frame_idx FROM f)
         |SELECT doc_id, n_frames, frame_idx,
         |  (fp * ${TextOps.HashMul} + frame_idx) % ${TextOps.HashMod}
         |    AS frame_ref
         |FROM x""".stripMargin,

    // frame-ref inverted index over the SAME sampled-frame chain as
    // mm_frames (shared constants), df-capped 2..16 like the n-gram
    // chain; overlap = containment vs the smaller sampled set
    "mm_frame_dedup" ->
      s"""WITH fdocs AS (SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + $PlantedIdOff, text FROM documents
         |  WHERE doc_id % 50 = 0 AND doc_id < $BaseIdMax),
         |m AS (SELECT doc_id, ${sqlPoly("text")} AS fp FROM fdocs),
         |f AS (SELECT doc_id, fp, 1 + fp % 8 AS n_frames FROM m),
         |x AS (SELECT doc_id, fp,
         |  unnest(range(0, n_frames, $MmFramesEveryKth)) AS frame_idx FROM f),
         |fr AS (SELECT doc_id,
         |  (fp * ${TextOps.HashMul} + frame_idx) % ${TextOps.HashMod}
         |    AS ref FROM x),
         |${sqlPostingPairs("fr", "ref", Some(16))}
         |$sqlOverlapSelect""".stripMargin,

    // shot segmentation: per-video scene length 1..3 from the decode
    // fingerprint, signature keyed on frame_idx // scene_len; cut =
    // signature change between consecutive SAMPLED frames, scene_id =
    // running cut count (frame_idx unique per doc, so DuckDB's default
    // RANGE frame equals Spark's)
    "mm_scene_cut" ->
      s"""WITH m AS (SELECT doc_id, ${sqlPoly("text")} AS fp FROM documents),
         |f AS (SELECT doc_id, fp, 1 + fp % 8 AS n_frames,
         |    1 + (fp // 8) % 3 AS slen FROM m),
         |x AS (SELECT doc_id, fp, slen,
         |    unnest(range(0, n_frames, $MmFramesEveryKth)) AS frame_idx
         |  FROM f),
         |s AS (SELECT doc_id, frame_idx,
         |    (fp * ${TextOps.HashMul} + frame_idx // slen)
         |      % ${TextOps.HashMod} AS scene_sig FROM x),
         |c AS (SELECT doc_id, frame_idx, scene_sig,
         |    lag(scene_sig) OVER (PARTITION BY doc_id ORDER BY frame_idx)
         |      AS prev FROM s)
         |SELECT doc_id, frame_idx, scene_sig,
         |  (prev IS NOT NULL AND prev <> scene_sig) AS is_cut,
         |  CAST(sum(CASE WHEN prev IS NOT NULL AND prev <> scene_sig
         |      THEN 1 ELSE 0 END)
         |    OVER (PARTITION BY doc_id ORDER BY frame_idx) AS BIGINT)
         |    AS scene_id
         |FROM c""".stripMargin,

    // the CASE mirrors resizePlan's no-upscale rule; dims are positive
    // so DuckDB's // == Spark's div here
    "mm_resize" ->
      s"""WITH m AS (SELECT doc_id,
         |  64 + ${sqlPoly("text")} % 512 AS width,
         |  64 + (${sqlPoly("text")} // 512) % 512 AS height
         |  FROM documents)
         |SELECT doc_id, width, height,
         |  CASE WHEN greatest(width, height) <= 224 THEN width
         |       ELSE width * 224 // greatest(width, height) END AS out_w,
         |  CASE WHEN greatest(width, height) <= 224 THEN height
         |       ELSE height * 224 // greatest(width, height) END AS out_h,
         |  greatest(width, height) > 224 AS resized
         |FROM m""".stripMargin,

    "doc_tfidf" ->
      s"""WITH toks AS (SELECT doc_id, unnest($sqlToks) AS token FROM documents),
         |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
         |dfreq AS (SELECT token, count(*) AS df_docs FROM tf GROUP BY token),
         |s AS (SELECT doc_id, token, tf, df_docs,
         |    round(CAST(tf AS DOUBLE) *
         |      (SELECT count(*) FROM documents) / df_docs, 6) AS score
         |  FROM tf JOIN dfreq USING (token)),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
         |    ORDER BY score DESC, token) AS INTEGER) AS rank FROM s)
         |SELECT doc_id, rank, token, tf, df_docs, score
         |FROM r WHERE rank <= 3""".stripMargin,

    // mirrors TextOps.bm25 exactly: Lucene idf, k1=1.5 / b=0.75 (all
    // constants exactly double-representable), scan-side per-term tf,
    // per-term micro-unit snap before the fixed-order long sum; the
    // expression structure matches the Spark side op-for-op so the
    // doubles are identical
    "doc_bm25" ->
      s"""WITH $sqlBm25Chain
         |SELECT doc_id, n_terms,
         |  round(CAST(mu AS DOUBLE) / 1000000.0, 6) AS bm25
         |FROM bs WHERE n_terms > 0
         |ORDER BY bm25 DESC, doc_id LIMIT 10""".stripMargin,

    // fusion compares ROUNDED rrf (identical doubles both engines);
    // ranks come from the verbatim bm25 and brute-cosine chains
    "q_hybrid_rrf" ->
      s"""WITH $sqlBm25Chain,
         |hlex AS (SELECT doc_id, lex_rank FROM (
         |    SELECT doc_id, CAST(row_number() OVER (
         |        ORDER BY round(CAST(mu AS DOUBLE) / 1000000.0, 6) DESC,
         |          doc_id) AS INTEGER) AS lex_rank
         |      FROM bs WHERE n_terms > 0)
         |  WHERE lex_rank <= 10),
         |hq AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |hj AS (SELECT vec_id AS doc_id, ${sqlCos("qv", "embedding")} AS cos
         |  FROM embeddings, hq WHERE vec_id <> 0),
         |hv AS (SELECT doc_id, vec_rank FROM (
         |    SELECT doc_id, CAST(row_number() OVER (
         |        ORDER BY cos DESC, doc_id) AS INTEGER) AS vec_rank
         |      FROM hj)
         |  WHERE vec_rank <= 10),
         |hf AS (SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
         |    l.lex_rank, v.vec_rank,
         |    round(coalesce(1.0 / (60.0 + l.lex_rank), 0.0)
         |      + coalesce(1.0 / (60.0 + v.vec_rank), 0.0), 6) AS rrf
         |  FROM hlex l FULL OUTER JOIN hv v ON l.doc_id = v.doc_id)
         |SELECT doc_id, lex_rank, vec_rank, rrf FROM hf
         |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin
  )

  /** The doc_langid oracle chain (toks/sc/lid CTEs ending at per-doc
    * stopword scores + pred_lang) — shared verbatim by
    * doc_langid_eval so the heuristic and its eval cannot drift.
    */
  private lazy val sqlLangidChain: String = {
    def stop(name: String, words: Seq[String]): String = {
      val lst = words.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(tk, t -> list_contains([$lst], t))) AS $name"
    }
    s"""toks AS (SELECT doc_id, lang, $sqlToks AS tk FROM documents),
       |sc AS (SELECT doc_id, lang,
       |  ${stop("s_en", TextOps.StopEn)},
       |  ${stop("s_de", TextOps.StopDe)},
       |  ${stop("s_fr", TextOps.StopFr)},
       |  ${stop("s_es", TextOps.StopEs)}
       |  FROM toks),
       |lid AS (SELECT doc_id, lang, s_en, s_de, s_fr, s_es,
       |  CASE WHEN s_en + s_de + s_fr + s_es = 0 THEN 'und'
       |       WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
       |       WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
       |       WHEN s_fr >= s_es THEN 'fr'
       |       ELSE 'es' END AS pred_lang
       |  FROM sc)""".stripMargin
  }

  /** The doc_bm25 oracle chain (btk/bt/bst/bs CTEs ending at per-doc
    * integer-µ scores) — shared verbatim by q_hybrid_rrf so the two
    * oracles cannot drift.
    */
  private lazy val sqlBm25Chain: String = {
    val bmTerms = Seq("spark", "query", "join")
    val tfDefs = bmTerms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(tk, x -> x = '$t')) AS tf$i" }.mkString(",\n    ")
    val dfDefs = bmTerms.indices.map(i =>
      s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i")
      .mkString(",\n    ")
    val muSum = bmTerms.indices.map { i =>
      s"""(CASE WHEN tf$i > 0 THEN CAST(round(
         |      ln((CAST(n - df$i AS DOUBLE) + 0.5)
         |          / (CAST(df$i AS DOUBLE) + 0.5) + 1.0)
         |        * (tf$i * 2.5)
         |        / (tf$i + 1.5 * (0.25 + 0.75 * blen / avgl))
         |      * 1000000.0) AS BIGINT) ELSE 0 END)""".stripMargin
    }.mkString("\n    + ")
    val ntSum = bmTerms.indices.map(i =>
      s"(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END)").mkString(" + ")
    s"""btk AS (SELECT doc_id, $sqlToks AS tk FROM documents),
       |bt AS (SELECT doc_id, len(tk) AS blen,
       |    $tfDefs
       |  FROM btk),
       |bst AS (SELECT count(*) AS n, round(avg(blen), 6) AS avgl,
       |    $dfDefs
       |  FROM bt),
       |bs AS (SELECT doc_id, $ntSum AS n_terms,
       |    $muSum AS mu
       |  FROM bt, bst)""".stripMargin
  }
}
