package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}

/** Streaming pad-fill — the unbounded form of graft.operators.Fill.pad
  * (reference: pypond/processor/filler.py _pad_and_zero): a missing
  * (null/NaN) value takes the last seen good value of its series,
  * optionally only for the first `fillLimit` consecutive misses per
  * gap (filler.py key_count).
  *
  * State per series key is O(1) — the last good value plus the current
  * miss-run length — so an unbounded stream over millions of series
  * holds one tiny state record per key in the state store, and a
  * restart resumes mid-gap without refilling from scratch. Parity with
  * the batch window formulation is spec-enforced (StreamFillSpec).
  */
object StreamFill {

  final case class Ev(user_id: Long, ts: Long, value: Option[Double])
      extends SeriesFold.Keyed
  object Ev {
    /** (ts, value), a miss first: the shared series order */
    implicit val byTsValue: Ordering[Ev] = Ordering.by(e => (e.ts, e.value))
  }
  final case class PadState(lastGood: Option[Double], missRun: Int)
  final case class Out(user_id: Long, ts: Long, value: Option[Double])

  def apply(spark: SparkSession, events: Dataset[Ev],
            fillLimit: Option[Int] = None): Dataset[Out] = {
    import spark.implicits._

    def good(v: Option[Double]): Boolean = v.exists(x => !x.isNaN)

    SeriesFold(events) { (user, prev: Option[PadState], e) =>
      if (good(e.value)) (Some(PadState(e.value, 0)), Some(Out(user, e.ts, e.value)))
      else {
        val st = prev.fold(PadState(None, 1))(p => p.copy(missRun = p.missRun + 1))
        // miss #r of a gap fills only while r <= fillLimit — exactly
        // the batch operator's rn - last_good_rn <= lim condition; no
        // previous good value means the miss stays null either way
        val fill = if (fillLimit.forall(st.missRun <= _)) st.lastGood else None
        (Some(st), Some(Out(user, e.ts, fill)))
      }
    }
  }
}
