package graft.pipeline

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Streaming twin of the batch event-transition miner (q63): per-user
  * event-type bigrams with exact integer dwell gaps, emitted incrementally
  * from an out-of-order event stream on the `WatermarkSeal` kernel keyed by
  * user_id (north-rule: per-key state machines over event time; the
  * reference has no keyed state at all — SURVEY.md §2.4 "Streaming").
  *
  * Ordering contract matches the batch query exactly: per user, events are
  * totally ordered by (ts, event_id); a transition (from → to) is the pair
  * of adjacent events in that order, with gap_us the exact microsecond
  * difference. Unlike the CEP machine there is no dense index to act as a
  * frontier, so ripeness is purely watermark-driven: the `WatermarkSeal`
  * kernel's seal rule.
  *
  * Design for scale:
  *   - State per key is the unsealed buffer + ONE carry event (the last
  *     sealed event, waiting for its successor). Text/props never enter
  *     state — only (event_id, event_type, ts) — so state is tens of bytes
  *     per buffered event and the buffer drains every trigger as the
  *     watermark advances. Bounded by the watermark delay × per-user event
  *     rate.
  *   - One shuffle on user_id, co-partitioned with sessionization/CEP.
  *   - Emits raw transition records (append mode); the tiny
  *     (from_type × to_type) count/sum aggregate composes downstream in the
  *     same job or over the sink — keeping THIS operator append-only means
  *     the output is replayable into the exactly-once sink.
  */
object Transitions {

  /** Input row. `ts` stays a Timestamp so the event-time watermark column
    * survives the projection into the typed Dataset (EventTimeTimeout
    * requires it); micros are preserved through the encoder via the nanos
    * field.
    */
  final case class EvLite(user_id: Long, event_id: Long, event_type: String,
      ts: Timestamp)

  final case class EventTransition(user_id: Long, from_type: String,
      to_type: String, gap_us: Long)

  /** A buffered event: only (time, id, type) — text/props never enter state. */
  final case class Ev(tsUs: Long, event_id: Long, event_type: String)

  /** The carry is the last sealed event, waiting for its successor. */
  private object TransFold
      extends WatermarkSeal.Fold[Long, EvLite, Ev, Option[Ev], EventTransition] {
    def init: Option[Ev] = None
    def event(e: EvLite): Ev = Ev(WatermarkSeal.micros(e.ts), e.event_id, e.event_type)
    def tsUs(e: Ev): Long = e.tsUs
    def id(e: Ev): Any = e.event_id
    val order: Ordering[Ev] = Ordering.by((e: Ev) => (e.tsUs, e.event_id))
    def step(user: Long, prev: Option[Ev], e: Ev,
        out: scala.collection.mutable.Buffer[EventTransition]): Option[Ev] = {
      prev.foreach(p => out += EventTransition(user, p.event_type, e.event_type, e.tsUs - p.tsUs))
      Some(e)
    }
  }

  /** Mine per-user event-type transitions. `events` needs columns
    * (user_id, event_id, event_type, ts). In streaming mode an event-time
    * watermark on `ts` must already be set by the caller (same contract as
    * `Cep.detect`); output is append-mode raw transitions — aggregate
    * downstream.
    */
  def mine(events: DataFrame, streaming: Boolean): Dataset[EventTransition] = {
    val spark = events.sparkSession
    import spark.implicits._
    // ts is selected UNCAST: a cast mints a fresh attribute and strips the
    // event-time watermark metadata, breaking EventTimeTimeout
    val lite = events.select(col("user_id").cast("long"),
      col("event_id").cast("long"), col("event_type"), col("ts")).as[EvLite]
    WatermarkSeal.run(lite.groupByKey(_.user_id), TransFold, streaming)
  }
}
