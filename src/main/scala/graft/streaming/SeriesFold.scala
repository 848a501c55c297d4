package graft.streaming

import scala.reflect.runtime.universe.TypeTag
import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The per-series fold behind every NoTimeout streaming twin (SURVEY.md
  * §2.10). Events group by their series key `user_id`; each key's
  * micro-batch is sorted by the event type's own `Ordering` and folded
  * one event at a time over the key's single state row, which lives in
  * Spark's state store — no driver-side state, and a restart resumes
  * mid-series from the checkpoint.
  */
object SeriesFold {

  /** An event of one series, keyed by `user_id`. */
  trait Keyed { def user_id: Long }

  /** One numeric series event — the input of every fold operator whose
    * event carries a plain value.
    */
  final case class Ev(user_id: Long, ts: Long, value: Double) extends Keyed

  object Ev {
    /** (ts, value): the batch twins' window order. Breaking ts ties on
      * the value makes a micro-batch's output independent of the order
      * its equal-ts rows reach the reducer.
      */
    implicit val byTsValue: Ordering[Ev] = Ordering.by(e => (e.ts, e.value))
  }

  /** Fold each key's micro-batch, in `E`'s order, through
    * `step(key, state, event) => (next state, rows to emit)`. A `None`
    * state after the batch removes the key's state row.
    */
  def apply[E <: Keyed: Ordering, S: Encoder, O: Encoder](events: Dataset[E])(
      step: (Long, Option[S], E) => (Option[S], IterableOnce[O])): Dataset[O] =
    events.groupByKey((e: E) => e.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: Long, batch: Iterator[E], state: GroupState[S]) =>
          var st = state.getOption
          val out = Vector.newBuilder[O]
          batch.toVector.sorted.foreach { e =>
            val (next, emit) = step(key, st, e)
            st = next
            out ++= emit
          }
          st match {
            case Some(s) => state.update(s)
            case None => if (state.exists) state.remove()
          }
          out.result().iterator
      }

  /** The last `span` samples of one series, oldest first. */
  final case class Hist[T](vals: Seq[T])

  /** The trailing-window fold: each event's `sample` joins its key's
    * last `span` samples, and `emit` reads the window it completes.
    * State per key is that window — bounded regardless of stream
    * length. Re-reading the whole window per event, instead of carrying
    * a running aggregate, is what makes the output identical to the
    * batch window operators.
    */
  def trailing[T: TypeTag, O: Encoder](events: Dataset[Ev], span: Int)(
      sample: Ev => T)(emit: (Ev, Vector[T]) => O): Dataset[O] = {
    implicit val histEnc: Encoder[Hist[T]] = Encoders.product[Hist[T]]
    apply[Ev, Hist[T], O](events) { (_, st, e) =>
      val vals = (st.fold(Vector.empty[T])(_.vals.toVector) :+ sample(e))
        .takeRight(span)
      (Some(Hist(vals)), Iterator.single(emit(e, vals)))
    }
  }

  /** µ-unit floor — the batch trend operators' output contract
    * (tie-free across engines, unlike round()).
    */
  def floor6(x: Double): Double = math.floor(x * 1e6) / 1e6
}
