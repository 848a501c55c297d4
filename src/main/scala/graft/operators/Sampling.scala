package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import org.apache.spark.sql.graft.GraftExpressions.poly_hash

/** Deterministic, shuffle-free corpus splitting and sampling for
  * training-data pipelines (SURVEY.md §2.8).
  *
  * Both operators key on the cross-engine rolling hash of a stable
  * column rather than `rand()`: the assignment is (a) reproducible
  * across runs/engines, (b) a pure scan-side projection — at 100 TB it
  * fuses into whole-stage codegen with zero shuffle and zero driver
  * state, and (c) stable under repartitioning, unlike `rand(seed)`
  * which is partition-index-dependent.
  */
object Sampling {

  /** hash-bucket in [0, 100) from a stable key column. */
  def pctBucket(key: Column): Column = poly_hash(key.cast("string")) % 100

  /** Deterministic train/val/test assignment: bucket < trainPct →
    * "train", < trainPct+valPct → "val", else "test". Appends
    * `bucket` + `split`.
    */
  def hashSplit(df: DataFrame, key: Column,
                trainPct: Int = 80, valPct: Int = 10): DataFrame =
    df.withColumn("bucket", pctBucket(key))
      .withColumn("split",
        when(col("bucket") < trainPct, lit("train"))
          .when(col("bucket") < trainPct + valPct, lit("val"))
          .otherwise(lit("test")))

  /** Exact-k per-stratum deterministic sample — the distributed twin
    * of per-group reservoir sampling, without its sequential state:
    * rank a stratum's rows by (rolling hash of the id, id) and keep
    * the first `m`. The hash order is uniform over the stratum and —
    * unlike a true reservoir or `rand()` — reproducible across runs,
    * engines, and repartitioning, so the "same" sample can be re-drawn
    * against a re-landed copy of the corpus. `doc_sample_stratified`
    * keeps a hash FRACTION per stratum; this keeps an exact COUNT (the
    * "give me 10k docs per language for eval" request).
    *
    * Scale shape: ONE hash shuffle on the stratum key + a per-stratum
    * rank window; the shuffle carries (id, stratum, hash) — text stays
    * in the scan until the final join-free projection (callers select
    * what they need downstream).
    */
  def strataTopK(df: DataFrame, stratumCol: String, idCol: String,
                 m: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(stratumCol))
      .orderBy(col("__h"), col(idCol))
    df.withColumn("__h", poly_hash(col(idCol).cast("string")))
      .withColumn("sample_rank", row_number().over(w))
      .where(col("sample_rank") <= m)
      .drop("__h")
  }

  /** Deterministic WEIGHTED sampling without replacement (the
    * min-hash race): each row draws `w` deterministic uniform hashes
    * (w = its integer weight, capped at `maxW`) and its priority is
    * their MINIMUM — so pairwise P(a outranks b) = w_a/(w_a+w_b),
    * the discrete Efraimidis–Spirakis order — and the sample is the
    * global top-`k` by (priority, id).
    *
    * Integer arithmetic end-to-end: the usual u^(1/w) / −ln(u)/w
    * keys need pow/ln, which are NOT correctly rounded in either
    * engine (the same reason sourceMix weights by sqrt); the min of
    * w rolling hashes is bit-identical everywhere. Scale shape: the
    * draws are a scan-side bounded array fold (≤ maxW hashes/row,
    * fused into codegen), the only plan feature is the top-k —
    * TakeOrderedAndProject, per-partition heaps, no global sort.
    */
  def weightedTopK(df: DataFrame, idCol: String, weight: Column, k: Int,
                   maxW: Int = 16): DataFrame = {
    // null weight → 1 draw, not a null priority (nulls sort FIRST in
    // an ascending order-by, so an unguarded null row would win the
    // race unconditionally)
    val w = greatest(lit(1), least(lit(maxW), coalesce(weight, lit(1))))
      .cast("int")
    val priority = array_min(transform(sequence(lit(1), w), j =>
      poly_hash(concat(col(idCol).cast("string"), lit("#"),
        j.cast("string")))))
    df.withColumn("weight", w)
      .withColumn("priority", priority)
      .orderBy(col("priority"), col(idCol)).limit(k)
      .select(col(idCol), col("weight"), col("priority"))
  }

  /** Deterministic training-shard packing: hash-bucket for even
    * spread, then pack each bucket's docs (rolling-hash order, id
    * tie-break) into shards of `shardSize`. The two-level (bucket,
    * shard) id keeps packing fully distributed — per-bucket windows,
    * never a global sort — and reproducible across runs, engines and
    * repartitioning. Output: idCol, bucket, shard, pos.
    */
  def shardPack(df: DataFrame, idCol: String, content: Column,
                nBuckets: Int, shardSize: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket")).orderBy(col("__h"), col(idCol))
    df.select(col(idCol), poly_hash(content).as("__h"))
      .withColumn("bucket", (col("__h") % nBuckets).cast("int"))
      .withColumn("__p", row_number().over(w) - 1)
      .select(col(idCol), col("bucket"),
        org.apache.spark.sql.graft.Bridge.ldiv(col("__p"), shardSize.toLong)
          .cast("int").as("shard"),
        (col("__p") % shardSize).cast("int").as("pos"))
  }

  /** Token-budget sequence packing (concat-and-chunk): documents are
    * concatenated in deterministic (rolling-hash, id) order within
    * their hash bucket and chunked every `budget` tokens — the step
    * that turns a sharded corpus into fixed-length pretraining
    * sequences (a document may straddle a chunk boundary, as in
    * GPT-style packing). Emits each doc's chunk id (`seq`) and token
    * offset within it (`seq_off`), from one exclusive prefix-sum
    * window per bucket — fully distributed, no global sort, and the
    * layout is reproducible across runs/engines/repartitioning.
    * Output: idCol, bucket, n_tokens, seq, seq_off.
    */
  def tokenPack(df: DataFrame, idCol: String, text: Column,
                nBuckets: Int, budget: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket")).orderBy(col("__h"), col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    df.select(col(idCol), poly_hash(text).as("__h"),
        size(TextOps.tokens(text)).cast("long").as("n_tokens"))
      .withColumn("bucket", (col("__h") % nBuckets).cast("int"))
      .withColumn("__c", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col(idCol), col("bucket"), col("n_tokens"),
        org.apache.spark.sql.graft.Bridge.ldiv(col("__c"), budget.toLong)
          .cast("int").as("seq"),
        (col("__c") % budget).cast("int").as("seq_off"))
  }

  /** Stratified downsampling: per-stratum keep-percentage, applied as
    * a hash predicate on the content column. `rates` maps stratum
    * value → keep percent; strata not listed keep `defaultPct`.
    * Classic use: downsample the dominant language to rebalance.
    */
  def stratified(df: DataFrame, stratum: Column, content: Column,
                 rates: Map[String, Int], defaultPct: Int): DataFrame = {
    val keepPct = rates.foldLeft(lit(defaultPct)) { case (acc, (k, pct)) =>
      when(stratum === k, lit(pct)).otherwise(acc)
    }
    df.where(pctBucket(content) < keepPct)
  }

  /** Temperature-flattened domain-mixture sampling — the "sampling
    * weights" step of pretraining curation (the Pile/Gopher mixture
    * recipes): target weights w_s ∝ n_s^0.5 flatten the natural
    * source distribution (rare domains upweighted relative to their
    * share), realized as deterministic per-source keep rates
    * r_s = min(1, targetFrac · N · w_s / n_s) applied as a hash
    * predicate on the content column. The exponent is fixed at 0.5
    * because sqrt() is IEEE-correctly-rounded in every engine while
    * pow() parity is library-dependent — the same convention that keeps
    * [[graft.operators.TextOps.tfidf]] off log().
    *
    * Scale shape: the rate table is one tiny partial-agg'd groupBy
    * (|sources| rows) broadcast back over the scan — the corpus itself
    * never shuffles; keep/drop is a scan-side codegen'd predicate,
    * reproducible across runs/engines/repartitioning. The sqrt-weight
    * sum rounds to 6dp so its accumulation order cannot drift the
    * per-source thresholds between engines.
    */
  def sourceMix(df: DataFrame, source: Column, content: Column,
                targetFrac: Double): DataFrame = {
    val counts = df.groupBy(source.as("__src")).agg(count(lit(1)).as("__n"))
    val tot = counts.agg(sum(col("__n")).as("__tot"),
      round(sum(sqrt(col("__n"))), 6).as("__ssum"))
    val rates = Par.withScalars(counts, tot)
      .select(col("__src"),
        (round(least(lit(1.0), lit(targetFrac) * col("__tot") * sqrt(col("__n"))
          / col("__ssum") / col("__n")) * lit(1e6))).cast("long").as("__thr"))
    df.join(broadcast(rates), source === col("__src"))
      .where(poly_hash(content) % 1000000L < col("__thr"))
      .drop("__src", "__thr")
  }

  /** Token-budget corpus assembly: within each group, rank rows best-
    * first by `priority` and keep rows while the running token total
    * stays within `budget` — the "assemble an N-token training mix from
    * the best available data" step that ends a curation pipeline
    * (greedy per-source knapsack; the priority columns must totally
    * order rows so the kept set is deterministic). Appends
    * `cum_tokens` (tokens used through and including each kept row).
    *
    * Scale shape: one shuffle on the group key, then a per-group
    * ordered window prefix-sum. A single source's docs sort within its
    * partitions (Spark's window sort spills, it does not OOM); when
    * one source is a whole crawl, the dial is a coarse pre-filter — the
    * [[graft.operators.TextOps]] quality percentile two-pass — to cut
    * the sorted set to ~budget-sized before exact assembly.
    */
  def tokenBudget(df: DataFrame, groupCol: Column, tokensCol: Column,
                  budget: Long, priority: Seq[Column]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(priority: _*)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    df.withColumn("cum_tokens", sum(tokensCol).over(w))
      .where(col("cum_tokens") <= budget)
  }
}
