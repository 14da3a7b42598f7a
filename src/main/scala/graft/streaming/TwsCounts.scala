package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, MapState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues}

/** Typed event for the running-counts processor. */
case class TypedEvent(user_id: Long, event_type: String, ts: Timestamp)

/** One finalized (user, event_type, n) ledger row. */
case class TypeCount(user_id: Long, event_type: String, n: Long)

/** Per-user running event-type counts on `transformWithState` with
  * MAP-typed state — the state shape `ValueState` can't give without
  * packing/unpacking a whole blob per update: each `(user, type)`
  * increment touches ONE map entry in the RocksDB store, so a key with
  * 50 event types doesn't rewrite the other 49 to bump one. That
  * per-entry update cost is the reason the API exists, and at 100 TB
  * it's the difference between O(1) and O(|types|) write amplification
  * per event.
  *
  * Emission discipline (append mode needs FINAL rows): a data batch
  * emits nothing — it only re-arms a watermark+1 timer — so snapshots
  * flush in the first batch where the key sees NO input and the
  * watermark has passed its timer. With the engine's default no-data
  * microbatches that is promptly after each data batch; on a sparse
  * production trigger it is the idle-key flush. Either way a key that
  * receives later input emits a superseding snapshot, and downstream
  * settles by max(n) per (user, type) — counts are monotone, so the
  * max IS the latest snapshot regardless of how many flushes happened.
  */
object TwsCounts {

  class TypeCountProcessor
      extends StatefulProcessor[Long, TypedEvent, TypeCount] {

    @transient private var counts: MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[String, Long](
        "counts", Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[TypedEvent],
        timers: TimerValues): Iterator[TypeCount] = {
      // fold the batch into LOCAL deltas first: per-row store traffic
      // (containsKey + getValue + updateValue per input row) is 3×|rows|
      // RocksDB point ops, where one read + one write per TOUCHED TYPE
      // suffices — the write-amplification argument this processor
      // exists to make, applied to its own loop
      val deltas = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      rows.foreach(e => deltas.update(e.event_type,
        deltas.getOrElse(e.event_type, 0L) + 1L))
      deltas.foreach { case (tpe, d) =>
        val cur = if (counts.containsKey(tpe)) counts.getValue(tpe) else 0L
        counts.updateValue(tpe, cur + d)
      }
      // quiet-period emission: re-arm to watermark+1; only a batch
      // with no input for this key lets the timer survive to fire
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      getHandle.registerTimer(timers.getCurrentWatermarkInMs() + 1L)
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long, timers: TimerValues,
        expired: ExpiredTimerInfo): Iterator[TypeCount] =
      counts.iterator().map { case (tpe, n) => TypeCount(key, tpe, n) }
  }

  /** Declare the running counts over a watermarked typed-event stream
    * (event-time quiet-period emission). */
  def typeCounts(events: Dataset[TypedEvent]): Dataset[TypeCount] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new TypeCountProcessor,
        TimeMode.EventTime(), OutputMode.Append())
  }
}
