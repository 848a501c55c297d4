package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, TextOps}

/** Streaming MinHash-LSH NEAR-duplicate suppression — the unbounded
  * twin of `Dedup.minhashCandidates`-then-drop (reference semantics:
  * the batch LSH dedup family, SURVEY §2.8; pypond's unbounded
  * pipelines motivate the streaming form, pypond/pipeline.py:193).
  *
  * Formulated for bounded state, not translated from batch:
  *
  *  - signatures are computed SCAN-SIDE per row —
  *    `array_min(transform(shingles, sid → (a·sid+b) mod P))` per slot,
  *    the same (a,b,P) family and band fold as the batch operator, so
  *    stream and batch agree bit-for-bit on which docs collide — no
  *    per-doc aggregation precedes the stateful ops;
  *  - each doc fans out to its `bands` band keys, and
  *    `dropDuplicatesWithinWatermark` on (band, key) keeps only the
  *    FIRST claimant of each bucket: band state lives exactly one
  *    watermark horizon, so memory is bounded at any input rate;
  *  - a doc survives iff it claimed ALL its bands (windowed count ==
  *    bands, the chained stateful aggregate): any band already owned by
  *    an earlier doc marks it a near-dup candidate and drops it. This
  *    is LSH candidate semantics with no exact verify — at sketch
  *    resolution, a chance single-band collision drops a genuinely
  *    novel doc; the dial is rows-per-band (k/bands), exactly the batch
  *    operator's precision knob.
  *
  * Docs too short to shingle (< shingleN tokens) have no signature and
  * bypass the operator (callers route them past dedup unchanged).
  * Emits one row per kept doc once its window closes:
  * (idCol, ts_begin, ts_end).
  *
  * Tie caveat: when members of one dup cluster land in the SAME
  * micro-batch, each band bucket picks its winner independently, so
  * the cluster can keep one member, or — if band wins split across
  * members — none. Dedup recall is never hurt (a duplicate never
  * survives); the cost is occasionally losing a cluster's unique
  * representative when all its copies arrive inside one batch. Across
  * batches the first arrival wins deterministically.
  */
object StreamNearDedup {

  def minhash(docs: DataFrame, tsCol: String, win: String, watermark: String,
              k: Int = 16, bands: Int = 4, shingleN: Int = 3,
              idCol: String = "doc_id"): DataFrame = {
    val r = k / bands
    require(bands * r == k, s"bands=$bands must divide k=$k")
    val sids = TextOps.shingleIds(col("text"), shingleN)
    val sigs = Dedup.minhashParams(k).map { case (a, b) =>
      array_min(transform(sids, sid => (lit(a) * sid + lit(b)) % lit(Dedup.MinhashP)))
    }
    val bandStructs = (0 until bands).map { bnd =>
      val hs = (0 until r).map(i => sigs(bnd * r + i))
      struct(lit(bnd).as("band"), Dedup.bandKey(hs).as("bk"))
    }
    StreamRollup.windowBounds(
      StreamRollup.eventTime(docs.where(size(sids) > 0), tsCol, watermark)
        .withColumn("__bb", explode(array(bandStructs: _*)))
        .select(col(idCol), col("__event_time"),
          col("__bb.band").as("__band"), col("__bb.bk").as("__bk"))
        .dropDuplicatesWithinWatermark("__band", "__bk")
        .groupBy(col(idCol),
          window(col("__event_time"), StreamRollup.interval(win)).as("w"))
        .agg(count(lit(1)).as("__n"))
        .where(col("__n") === bands))
      .select(col(idCol), col("ts_begin"), col("ts_end"))
  }
}
