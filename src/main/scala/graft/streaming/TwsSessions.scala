package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, StatefulProcessorWithInitialState, TTLConfig, TimeMode, TimerValues, ValueState}

/** Gap sessionization on Spark 4's `transformWithState` — the third
  * keyed-state streaming API surface beside
  * `dropDuplicatesWithinWatermark` and [[StreamingPipeline.gapSessions]]
  * (`flatMapGroupsWithState`), carrying the SAME session semantics so the
  * two custom-state implementations are mutually provable: same compressed
  * gap-disjoint interval state, same watermark late-drop, same
  * emit-exactly-when-closable contract, same DuckDB oracle.
  *
  * What the new API changes operationally (and why an engine should offer
  * it): state lives in named, individually-evolvable typed slots on the
  * RocksDB state store rather than one opaque blob (here a single
  * `ValueState[SessState]`), timers are first-class (register/delete per
  * key, many at once) instead of the one implicit timeout slot, and
  * processors compose initial state and TTL declaratively. At 100 TB the
  * scale story is unchanged from `gapSessions` — state per key is bounded
  * by the in-horizon SESSION count (compressed intervals, never raw
  * events), keys hash-partition across executors, and RocksDB spills
  * state off-heap, which is precisely the regime where the blob-per-key
  * HDFS store of fMGWS starts to hurt.
  *
  * Timer discipline: exactly one live timer per key, re-armed to the
  * earliest closable session (`min(last + gap)`), clamped past the
  * current watermark. `handleExpiredTimer` re-partitions the interval
  * list against the advanced watermark and emits every newly-closable
  * session, so idle keys drain without new input — the AvailableNow
  * no-data batch after the sentinel pushes the watermark is what flushes
  * the final sessions under the oracle gate.
  */
object TwsSessions {

  /** The session logic both processors share (plain vs batch-bootstrapped):
    * mixed into concrete `StatefulProcessor` subclasses because the
    * with-initial-state variant extends a DIFFERENT abstract class. */
  sealed trait GapSessionLogic {
    self: StatefulProcessor[Long, SessEvent, SessionOut] =>

    def gapUs: Long

    @transient protected var sessions: ValueState[SessState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sessions = getHandle.getValueState[SessState](
        "sessions", Encoders.product[SessState], TTLConfig.NONE)

    /** Interval merge shared with the fMGWS twin — ONE implementation
      * ([[GapMerge.merge]]), so the documented output-equality of the
      * two processors is true by construction. */
    protected def merge(prior: List[SessAcc], fresh: List[SessAcc]): List[SessAcc] =
      GapMerge.merge(prior, fresh, gapUs)

    /** Re-arm the single per-key timer to the earliest closable session,
      * clamped past the current watermark. `expiringMs` is the timer
      * whose callback is running, if any: Spark deletes that one itself
      * once the callback returns, so deleting it here too only makes the
      * engine's own delete miss (a WARN per expiry). The new timer is
      * past the watermark, the expiring one at or before it, so the two
      * never coincide. */
    protected def rearm(open: List[SessAcc], wmMs: Long,
        expiringMs: Option[Long]): Unit = {
      getHandle.listTimers().filterNot(t => expiringMs.contains(t))
        .foreach(getHandle.deleteTimer)
      if (open.nonEmpty)
        getHandle.registerTimer(GapMerge.nextTimerMs(open, gapUs, wmMs))
    }

    /** Emit closable sessions against the current watermark, persist the
      * rest, and re-arm the single per-key timer. */
    protected def drain(key: Long, fresh: List[SessAcc],
        timers: TimerValues, expiringMs: Option[Long]): Iterator[SessionOut] = {
      val wmMs = timers.getCurrentWatermarkInMs()
      val wmUs = wmMs * 1000L
      val prior = if (sessions.exists()) sessions.get().sessions else Nil
      val (closed, open) = GapMerge.split(merge(prior, fresh), gapUs, wmUs)
      if (open.isEmpty) sessions.clear()
      else sessions.update(SessState(open))
      rearm(open, wmMs, expiringMs)
      closed.iterator.map(s => SessionOut(key, s.start_us, s.last_us, s.n))
    }

    override def handleInputRows(key: Long, rows: Iterator[SessEvent],
        timers: TimerValues): Iterator[SessionOut] = {
      // late rows (at or before the watermark) are dropped by the engine
      // before reaching the processor in event-time mode; the guard here
      // keeps the semantics explicit and processor-local
      val wmUs = timers.getCurrentWatermarkInMs() * 1000L
      val fresh = rows.filter(_.ts_us >= wmUs)
        .map(e => SessAcc(e.ts_us, e.ts_us, 1L)).toList
      drain(key, fresh, timers, expiringMs = None)
    }

    override def handleExpiredTimer(key: Long, timers: TimerValues,
        expired: ExpiredTimerInfo): Iterator[SessionOut] =
      drain(key, Nil, timers, Some(expired.getExpiryTimeInMs()))
  }

  class GapSessionProcessor(val gapUs: Long)
      extends StatefulProcessor[Long, SessEvent, SessionOut]
      with GapSessionLogic

  /** Batch-bootstrapped variant: state is SEEDED from a batch-computed
    * session snapshot before the first streaming batch — the
    * backfill-then-go-streaming handoff. Seed intervals may still be
    * OPEN (a session spanning the batch/stream boundary): the normal
    * interval merge lets the first in-gap streamed row extend them, so
    * boundary sessions come out whole, not split. */
  class BootstrapGapSessionProcessor(val gapUs: Long)
      extends StatefulProcessorWithInitialState[Long, SessEvent, SessionOut, SessState]
      with GapSessionLogic {

    override def handleInitialState(key: Long, initial: SessState,
        timers: TimerValues): Unit = {
      val merged = merge(Nil, initial.sessions)
      sessions.update(SessState(merged))
      rearm(merged, timers.getCurrentWatermarkInMs(), expiringMs = None)
    }
  }

  private val providerKey = "spark.sql.streaming.stateStore.providerClass"
  private val rocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** The RocksDB provider conf `transformWithState` requires. Apply it
    * through the `extraConfs` of [[StreamGate.collect]] in any
    * concurrent harness, so the set→start→restore happens inside the
    * gate's lock window (the Verify pool races a naked set/restore:
    * one thread's restore between another's set and start strips the
    * provider from that query — the r14 review's finding). */
  val rocksDbConfs: Map[String, String] = Map(providerKey -> rocksDb)

  /** The RocksDB provider applied around a stream start and restored
    * after. SINGLE-THREADED harnesses only (the sequential spec suites):
    * the set/restore window here is not covered by StreamGate's lock —
    * concurrent callers must pass [[rocksDbConfs]] to the gate instead. */
  def withRocksDb[A](spark: org.apache.spark.sql.SparkSession)(body: => A): A = {
    val prior = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey, rocksDb)
    try body
    finally prior match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None    => spark.conf.unset(providerKey)
    }
  }

  /** Declare the sessionization over an event stream. The input must
    * already carry its watermark (same contract as `gapSessions`). */
  def gapSessionsTws(events: Dataset[SessEvent], gapUs: Long): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new GapSessionProcessor(gapUs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Batch-compute the per-user compressed session state from historical
    * events — the SEED for [[gapSessionsTwsBootstrapped]]. Input needs
    * (user_id, event_id, ts_us); output is one (user_id, SessState) row
    * per user, the intervals gap-disjoint and sorted. One shuffle on
    * user_id (the window) + the per-user rollup; interval count per user
    * is bounded by that user's session count, so state rows stay small
    * even when history is long. */
  def batchSessionState(events: DataFrame, gapUs: Long): Dataset[(Long, SessState)] = {
    import events.sparkSession.implicits._
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val perSession = events
      .withColumn("prev_us", lag(col("ts_us"), 1).over(w))
      .withColumn("new_s",
        when(col("prev_us").isNull || col("ts_us") - col("prev_us") >= gapUs, 1L)
          .otherwise(0L))
      .withColumn("sid", sum(col("new_s")).over(w))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("ts_us")).as("start_us"), max(col("ts_us")).as("last_us"),
        count(lit(1)).as("n"))
    perSession
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(
        struct(col("start_us"), col("last_us"), col("n")))).as("sessions"))
      .select(col("user_id").as("_1"), struct(col("sessions")).as("_2"))
      .as[(Long, SessState)]
  }

  /** Sessionization seeded from a batch snapshot: the backfill → streaming
    * handoff (SURVEY §2.9 ST5 at the STATE level — replaying history
    * through the stream is one option; adopting its batch-computed state
    * without replay is this one). Seed sessions that closed before the
    * stream's horizon emit on the first watermark advance; open boundary
    * sessions extend seamlessly. */
  def gapSessionsTwsBootstrapped(events: Dataset[SessEvent], gapUs: Long,
      initial: Dataset[(Long, SessState)]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new BootstrapGapSessionProcessor(gapUs),
        TimeMode.EventTime(), OutputMode.Append(),
        initial.groupByKey(_._1).mapValues(_._2))
  }
}
