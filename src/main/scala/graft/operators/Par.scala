package graft.operators

import org.apache.spark.sql.DataFrame

/** Scale-adaptive scan parallelism (optimization guide §2.5/§6).
  *
  * A parquet scan's task count is its split count, and a split cannot
  * divide a row group — so a small input (one file, one row group)
  * yields a ONE-task scan stage no matter how many cores the session
  * has. For byte-light but compute-dense scans (vector dot-product
  * folds, hashed featurization, shingle/char-gram hashing, banded DP)
  * that serializes the dominant cost of the query on one core.
  *
  * [[fanout]] round-robin repartitions a frame to the session's default
  * parallelism ONLY when its planned partition count is below it: at
  * real corpus scale the scan already yields >= cores splits and the
  * call is an identity — no exchange is added, nothing is tuned to
  * local mode. At bench scale it costs one exchange of a tiny frame
  * (the inputs here are < a few MB) and buys full-width compute.
  *
  * Only used on frames whose consumers are row-order independent
  * (exact-arithmetic aggregates, keyed windows with total orderings) —
  * which is every oracle-checked query by construction, since the
  * driver's hash compare is over sorted rows and AQE already varies
  * partitioning run to run.
  */
object Par {
  def fanout(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    // repartition alone re-runs scan+exchange at EVERY reference to the
    // frame (a multi-leg eval references its base table ~20 times:
    // measured +3.3 s on emb_ann_recall from exactly that); the lazy
    // localCheckpoint materializes the fanned partitions once inside
    // the first consumer's job and every later reference reads the
    // cached partitions. Per-query, inside the timed region — nothing
    // persists across runs.
    if (df.rdd.getNumPartitions < p) df.repartition(p).localCheckpoint(false)
    else df
  }

  /** Explicit compute-density repartition of a POST-SHUFFLE frame
    * (optimization guide §2: "parallelism lost where compute/byte is
    * maximal"). AQE's partition coalescing sizes post-shuffle
    * partitions by BYTES, so a keyed frame whose per-row work is huge
    * relative to its bytes (banded DTW DP over calendar arrays,
    * per-key pair fan-outs, exact percentile buffers) collapses onto
    * 1–2 cores while the rest idle. These frames are ~KB/row against
    * 10⁴+ ops/row, so an exchange pinned at the session's default
    * parallelism is justified at ANY scale — the exchange moves
    * metadata-sized rows once, the compute then runs cluster-wide.
    * [[Par.fanout]]'s partition-count guard cannot see AQE coalescing
    * (the pre-AQE count is always spark.sql.shuffle.partitions), so
    * this is unconditional by design.
    *
    * `cols` empty = round-robin (row-independent projections);
    * non-empty = hash on `cols`, for frames whose downstream windows /
    * joins / aggs require clustering by (a superset of) `cols` — the
    * explicit exchange then REPLACES the implicit one (subset
    * satisfaction), pinning its width instead of adding a shuffle.
    */
  def spread(df: DataFrame, cols: org.apache.spark.sql.Column*): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (cols.isEmpty) df.repartition(p) else df.repartition(p, cols: _*)
  }
}
