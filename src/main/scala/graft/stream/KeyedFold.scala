package graft.stream

import scala.reflect.ClassTag
import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The one keyed-state kernel behind the stateful stream operators: group
  * rows by `key`, fold each key's micro-batch rows into its prior state
  * with `step`, emit what `step` returns. `step` answers `Some(state)` to
  * keep the key's state and `None` to remove it. [[track]] runs the fold
  * over a stream, [[trackEvicting]] also retires keys idle past a
  * retention, and [[trackBatch]] is the batch twin: `step` from no prior
  * state.
  *
  * Two decisions:
  *  1. State is `Encoders.kryo[S]`, and the key and output encoders are
  *     schema-identical to the per-operator scaffolds this replaced, so
  *     existing checkpoints still load. A product state encoder would make
  *     state size and schema readable, but it maps e.g.
  *     `PoissonBootstrapMonitor.S`'s `BigDecimal`s to `decimal(38,18)` and
  *     would break that monitor's bit-exact twin.
  *  2. The kernel stays on `flatMapGroupsWithState`: `transformWithState`
  *     needs the RocksDB state-store provider (see [[SessionMaterializer]]),
  *     which none of these operators otherwise requires.
  */
final class KeyedFold[K: TypeTag, E, S: ClassTag, O <: Product : TypeTag](
    key: E => K,
    step: (K, Iterator[E], Option[S]) => (Iterator[O], Option[S])) extends Serializable {

  // built on the driver; the handlers shipped to executors never use them
  @transient private[this] val keyEnc: Encoder[K] = ExpressionEncoder[K]()
  @transient private[this] implicit val outEnc: Encoder[O] = Encoders.product[O]
  @transient private[this] implicit val stateEnc: Encoder[S] = Encoders.kryo[S]

  /** The NoTimeout handler: fold, then update or remove the key's state. */
  def handler(k: K, rows: Iterator[E], state: GroupState[S]): Iterator[O] = {
    val (out, next) = step(k, rows, state.getOption)
    next.fold(state.remove())(state.update)
    out
  }

  /** The ProcessingTimeTimeout handler: a timed-out key's state retires
    * with no emission (its last live emission was its final word);
    * otherwise [[handler]], then re-arm the idle timer. */
  def evictingHandler(idleMs: Long)(
      k: K, rows: Iterator[E], state: GroupState[S]): Iterator[O] =
    if (state.hasTimedOut) { state.remove(); Iterator.empty }
    else {
      val out = handler(k, rows, state)
      state.setTimeoutDuration(idleMs)
      out
    }

  def track(ds: Dataset[E]): Dataset[O] = ds.groupByKey(key)(keyEnc)
    .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(handler _)

  def trackEvicting(ds: Dataset[E], idleRetention: java.time.Duration): Dataset[O] =
    ds.groupByKey(key)(keyEnc).flatMapGroupsWithState(OutputMode.Append,
      GroupStateTimeout.ProcessingTimeTimeout)(evictingHandler(idleRetention.toMillis) _)

  def trackBatch(ds: Dataset[E]): Dataset[O] = ds.groupByKey(key)(keyEnc)
    .flatMapGroups((k: K, rows: Iterator[E]) => step(k, rows, None)._1)
}

object KeyedFold {

  /** An operator whose `transition` returns the rows to emit and the key's
    * next state, which is always kept. */
  def apply[K: TypeTag, E, S: ClassTag, O <: Product : TypeTag](key: E => K)(
      transition: (K, Iterator[E], Option[S]) => (Seq[O], S)): KeyedFold[K, E, S, O] =
    new KeyedFold[K, E, S, O](key, (k, rows, prior) =>
      transition(k, rows, prior) match { case (out, next) => (out.iterator, Some(next)) })

  /** A monitor that folds each key's rows into its state and emits one
    * point per touched key. */
  def points[K: TypeTag, E, S: ClassTag, O <: Product : TypeTag](key: E => K)(
      fold: (Option[S], Iterator[E]) => S, point: (K, S) => O): KeyedFold[K, E, S, O] =
    new KeyedFold[K, E, S, O](key, (k, rows, prior) => {
      val next = fold(prior, rows)
      (Iterator.single(point(k, next)), Some(next))
    })
}
