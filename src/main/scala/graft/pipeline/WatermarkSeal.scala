package graft.pipeline

import java.sql.Timestamp

import scala.collection.mutable
import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Dataset, Encoder, Encoders, KeyValueGroupedDataset}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The keyed buffer-until-watermark kernel every event-time operator here
  * runs on except `Cep` (whose ripeness is a dense `turn_idx` frontier, not
  * a watermark): `Scd2.scd2Stream`, `Transitions.mine`,
  * `Retractions.retractStream`/`rowDeltaStream`/`joinDeltaStream` and
  * `Joins.asOfJoinStream`. Each supplies a `Fold` — the buffered form of
  * an input row, its redelivery identity, its in-key order and a
  * `step(key, carry, event, out)` — and the kernel owns everything else:
  *
  *   - ingest: arrivals join the key's pending buffer, deduplicated by the
  *     fold's identity (at-least-once redelivery inside the window);
  *   - the seal rule, below; batch mode (`streaming = false`, no timeout)
  *     seals everything, so batch output is the complete-input answer;
  *   - the fold: sealed events in the fold's (ts µs, tie) order through
  *     `step`, threading the key's carry;
  *   - retention: the state row is removed once the buffer is empty and the
  *     carry is back at `init` — a drained key costs nothing;
  *   - timeouts: armed at max(oldest pending ms, wm + 1) so a buffered key
  *     drains even if it never sees another arrival, or, with `idleTtlMs`
  *     and nothing buffered, at wm + ttl, after which the key is forgotten.
  *
  * THE SEAL RULE: an event is sealed once its microsecond time is ≤ the
  * watermark (ms × 1000). That is exactly the set of rows Spark's own
  * late filter drops on a later arrival: FlatMapGroupsWithStateExec drops
  * input rows with ts ≤ the previous batch's watermark, and that watermark
  * is ≥ the one any earlier batch sealed under. So nothing that survives
  * the engine's filter can ever sort below a sealed event, and an emitted
  * result is final — which makes streaming output equal the batch twin on
  * the same input. A sibling that arrives in the same batch as the seal
  * sorts correctly in the pending buffer (the late filter lags the
  * eviction watermark by one batch). The rule is on MICROseconds: sealing
  * on millisecond-truncated time would seal an event while a sibling a few
  * hundred µs earlier in the same millisecond could still pass the late
  * filter and then sort too late. Because the engine drops everything at
  * or below a sealed time, the kernel keeps no "already emitted" frontier
  * and redeliveries of sealed events never reach it.
  */
object WatermarkSeal {

  /** What an operator plugs into the kernel. `K` key, `V` input row, `E`
    * buffered event, `C` per-key carry, `O` output row.
    */
  abstract class Fold[K, V, E, C, O] extends Serializable {
    /** The carry of a key with no sealed history; a drained key whose
      * carry equals it loses its state row.
      */
    def init: C
    /** The buffered form of one input row (primitives; no key, no text). */
    def event(v: V): E
    /** Exact event time, microseconds — the only time the kernel reads. */
    def tsUs(e: E): Long
    /** Redelivery identity: a second arrival with a buffered id is dropped. */
    def id(e: E): Any
    /** Total in-key order of sealed events; leads with `tsUs`. */
    def order: Ordering[E]
    def step(k: K, carry: C, e: E, out: mutable.Buffer[O]): C
  }

  /** Per-key state: the carry, the unsealed events, and the watermark at
    * the key's last invocation (where its idle clock starts).
    */
  final case class SealState[C, E](carry: C, pending: Seq[E], lastWmMs: Long)

  /** Run `fold` over every key of `grouped`. Streaming input must carry an
    * event-time watermark on the column `fold.tsUs` reads. `idleTtlMs`
    * forgets a key's carry after that much event time with no arrivals.
    */
  def run[K, V, E: TypeTag, C: TypeTag, O <: Product : TypeTag](
      grouped: KeyValueGroupedDataset[K, V], fold: Fold[K, V, E, C, O],
      streaming: Boolean, idleTtlMs: Option[Long] = None): Dataset[O] = {
    // ttl <= 0 would arm a timeout at or below the current watermark — a
    // runtime query failure — and expire keys instantly; reject it here
    require(idleTtlMs.forall(_ > 0),
      s"idleTtlMs must be positive event-time millis, got $idleTtlMs")
    implicit val stateEnc: Encoder[SealState[C, E]] = Encoders.product[SealState[C, E]]
    implicit val outEnc: Encoder[O] = Encoders.product[O]
    val timeoutConf =
      if (streaming) GroupStateTimeout.EventTimeTimeout else GroupStateTimeout.NoTimeout
    grouped.flatMapGroupsWithState[SealState[C, E], O](OutputMode.Append, timeoutConf) {
      (k, it, state) => process(fold, k, it, state, streaming, idleTtlMs)
    }
  }

  private def process[K, V, E, C, O](fold: Fold[K, V, E, C, O], k: K,
      in: Iterator[V], state: GroupState[SealState[C, E]], streaming: Boolean,
      idleTtlMs: Option[Long]): Iterator[O] = {
    val wm = if (streaming) state.getCurrentWatermarkMs() else Long.MaxValue
    val s = state.getOption.getOrElse(SealState(fold.init, Vector.empty[E], wm))
    // a timeout on an empty buffer can only be the idle clock: forget the
    // key. No redelivery can resurrect it — every event it emitted is at or
    // below a watermark the engine's late filter already enforces
    if (state.hasTimedOut && s.pending.isEmpty) {
      state.remove()
      return Iterator.empty
    }
    // keys with data never time out, so an idle key whose next arrival
    // lands in the batch its clock expires is expired here instead
    val carry0 = idleTtlMs match {
      case Some(ttl) if streaming && s.pending.isEmpty && wm - s.lastWmMs >= ttl => fold.init
      case _ => s.carry
    }
    val seen = mutable.HashSet.empty[Any] ++= s.pending.iterator.map(fold.id)
    val pending = s.pending ++ in.map(fold.event).filter(e => seen.add(fold.id(e)))
    val wmUs = if (streaming) wm * 1000L else Long.MaxValue
    val (sealedEvs, wait) = pending.partition(e => fold.tsUs(e) <= wmUs)
    val out = mutable.ArrayBuffer.empty[O]
    val carry = sealedEvs.sorted(fold.order)
      .foldLeft(carry0)((c, e) => fold.step(k, c, e, out))
    if (wait.isEmpty && carry == fold.init) state.remove()
    else {
      state.update(SealState(carry, wait, wm))
      if (streaming) {
        if (wait.nonEmpty) {
          val oldestMs = wait.iterator.map(e => Math.floorDiv(fold.tsUs(e), 1000L)).min
          state.setTimeoutTimestamp(math.max(oldestMs, wm + 1))
        } else idleTtlMs.foreach(ttl => state.setTimeoutTimestamp(math.max(wm, 0L) + ttl))
      }
    }
    out.iterator
  }

  /** Exact microseconds of a timestamp (`getTime` already holds the
    * integral-millisecond part of the nanos; only the remainder is added).
    */
  def micros(ts: Timestamp): Long = ts.getTime * 1000L + (ts.getNanos % 1000000) / 1000

  /** The timestamp at exact microseconds `us`. */
  def timestamp(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }
}
