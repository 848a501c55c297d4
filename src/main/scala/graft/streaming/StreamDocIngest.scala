package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.TextOps

/** Streaming twin of the batch `doc_pipeline`: an unbounded
  * training-data ingest path — quality gate → benchmark-contamination
  * drop → exact-text dedup → per-source windowed corpus stats — as ONE
  * Structured Streaming query (reference: pypond's unbounded Pipeline
  * chains, pypond/pipeline.py:193; the stages themselves mirror the
  * published LLM-corpus curation recipe the batch operators implement).
  *
  * Built to the stream's constraints, not translated from batch:
  *
  *  - the quality gate is the SAME scan-side expression chain as batch
  *    `TextOps.quality` — pure per-row Catalyst expressions are
  *    stream-safe as-is (pinned by StreamRollupSpec's parity test);
  *  - decontamination uses the FIXED-SIZE Bloom sketch
  *    (`Dedup.contaminationBloom`'s blob), not the broadcast shingle
  *    set: the sketch is built ONCE from the static benchmark frame and
  *    rides every micro-batch as a constant scalar filter — a stateless
  *    `exists()` over the doc's shingles, no stream-static join, no
  *    state. False positives only (a clean verdict is definitive), so
  *    streaming drops a superset of what exact batch decontamination
  *    drops — the conservative direction for held-out eval data;
  *  - dedup is `dropDuplicatesWithinWatermark` on the normalized text
  *    hash: state is bounded by the watermark horizon at any input
  *    rate (plain dropDuplicates would accumulate forever on 100
  *    TB/day) — duplicates arriving later than the watermark are
  *    admitted, the documented recall/state dial;
  *  - the final windowed count/avg-quality aggregate CHAINS after the
  *    stateful dedup in append mode (multiple stateful operators, the
  *    Spark 4 watermark-propagation path); windows emit once closed.
  */
object StreamDocIngest {

  /** The static-side preparation: a Bloom blob of the benchmark docs'
    * distinct shingle ids. `bench` must be a BATCH frame with a `text`
    * column (the eval suite is driver-small; the blob is numBits/8
    * bytes regardless of benchmark size).
    */
  def benchSketch(bench: DataFrame, shingleN: Int = 3,
                  estimatedItems: Long = 1L << 17,
                  numBits: Long = 1L << 21): Array[Byte] = {
    import org.apache.spark.sql.graft.GraftExpressions._
    bench.select(explode(TextOps.shingleIds(col("text"), shingleN)).as("sid"))
      .distinct()
      .agg(bloom_filter_agg(col("sid"), estimatedItems, numBits).as("bf"))
      .head.getAs[Array[Byte]]("bf")
  }

  /** The stateless prefix of the pipeline (quality gate + Bloom
    * contamination drop). Factored out so the batch-parity spec can run
    * the IDENTICAL stages on a batch frame — same code, both worlds.
    */
  def cleanDocs(docs: DataFrame, benchBlob: Array[Byte],
                minQuality: Double, shingleN: Int = 3): DataFrame = {
    import org.apache.spark.sql.graft.GraftExpressions._
    TextOps.quality(docs)
      .where(col("quality") >= minQuality)
      .where(!exists(TextOps.shingleIds(col("text"), shingleN),
        sid => bloom_might_contain(benchBlob, sid)))
  }

  /** Full streaming ingest. `docs` is an unbounded frame with
    * `text`, `source`, and an epoch-µs `tsCol`; `benchBlob` comes from
    * [[benchSketch]] over the static eval suite. Emits one row per
    * closed (source, window): surviving-doc count, token volume, and
    * mean quality of what entered the corpus.
    */
  def apply(docs: DataFrame, benchBlob: Array[Byte], tsCol: String,
            minQuality: Double, win: String, watermark: String,
            shingleN: Int = 3): DataFrame = {
    val cleaned = StreamRollup.eventTime(
        cleanDocs(docs, benchBlob, minQuality, shingleN)
          .withColumn("__text_hash", xxhash64(col("text"))), tsCol, watermark)
      .dropDuplicatesWithinWatermark("source", "__text_hash")
    StreamRollup.windowBounds(cleaned
      .groupBy(col("source"),
        window(col("__event_time"), StreamRollup.interval(win)).as("w"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        Aggs2.avgQ.as("avg_quality")))
      .drop("w")
  }

  /** Order-independent mean of the 6dp-rounded quality score: sum in
    * exact micro-units (graft.functions.Aggs.micros), divide once.
    */
  private object Aggs2 {
    import graft.functions.Aggs
    def avgQ = (Aggs.microsToD(sum(Aggs.micros(col("quality"))))
      / count(lit(1))).cast("double")
  }
}
