package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators.AsOfJoin
import graft.sources.Tables

/** Temporal analytics wave: regular-grid resampling (composed from the
  * as-of join operator), funnel conversion, and cohort retention — the
  * event-stream shapes a feature/metrics pipeline computes daily.
  */
object TemporalQueries {

  /** Per-user 6-hour time grid between first and last event, each grid
    * point carrying the latest event at-or-before it — gap-filling
    * resampling, composed as grid-generate → as-of join (operator
    * reuse: AsOfJoin is the single-shuffle carry-forward plan). */
  def eventsResample(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val bounds = ev.groupBy(col("user_id"))
      .agg(date_trunc("hour", min(col("ts"))).as("lo"), max(col("ts")).as("hi"))
    val grid = bounds.select(col("user_id"),
      explode(sequence(col("lo"), col("hi"), expr("INTERVAL 6 HOURS"))).as("grid_ts"))
    val right = ev.select(col("user_id"), col("ts"), col("event_id"), col("value"))
    AsOfJoin.joinAsOf(grid, right,
      leftKey = "user_id", rightKey = "user_id",
      leftTs = "grid_ts", rightTs = "ts", tiebreak = "event_id")
      .select(col("user_id"), col("grid_ts"),
        col("r_event_id").as("last_event_id"), col("r_value").as("last_value"))
      .orderBy(col("user_id"), col("grid_ts"))
  }

  /** Signup → purchase-within-7-days funnel, grouped by signup day. The
    * conversion flag folds per user BEFORE the daily rollup so repeat
    * purchasers count once; the rate is a ratio of exact longs. */
  def funnelConversion(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val signups = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("signup_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"))
    val perUser = signups.join(purchases, Seq("user_id"), "left")
      .groupBy(col("user_id"), col("signup_ts"))
      .agg(max(when(col("p_ts") > col("signup_ts") &&
        col("p_ts") <= col("signup_ts") + expr("INTERVAL 7 DAYS"), 1L).otherwise(0L))
        .as("converted"))
    perUser.groupBy(date_trunc("day", col("signup_ts")).as("signup_day"))
      .agg(count(lit(1)).as("n_signups"),
        sum(col("converted")).as("n_converted"))
      .select(col("signup_day"), col("n_signups"), col("n_converted"),
        round(col("n_converted").cast("double") / col("n_signups").cast("double"), 6)
          .as("conv_rate"))
      .orderBy(col("signup_day"))
  }

  /** Cohort retention: distinct active users per (signup-month cohort,
    * month offset). Offsets use explicit year*12+month integer
    * arithmetic so both engines bucket identically. */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val cohorts = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id"))
      .agg(date_trunc("month", min(col("ts"))).as("cohort"))
    ev.join(cohorts, "user_id")
      .groupBy(col("cohort"),
        ((year(col("ts")) * 12 + month(col("ts"))) -
          (year(col("cohort")) * 12 + month(col("cohort")))).as("month_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .orderBy(col("cohort"), col("month_offset"))
  }

  /** SCD2 (type-2 slowly-changing-dimension) history from the event
    * changelog: each event becomes a validity interval
    * [ts, next event's ts) per user, the open interval marking the
    * current row — the full-history extension of the reference's
    * last-writer-wins keying (J2, `Reconcile.lastWriterWins` keeps only
    * the final row; this keeps the lineage). One shuffle: a lead window
    * over (user_id; ts, event_id) — the same partitioning the
    * last-writer-wins row_number uses, so a combined plan reuses the
    * exchange. */
  def scd2History(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts").as("valid_from"),
        lead(col("ts"), 1).over(w).as("valid_to"), col("value"))
      .withColumn("is_current", col("valid_to").isNull)
      .orderBy(col("user_id"), col("valid_from"), col("event_id"))
  }

  /** The REAL streaming SCD2 job inside the DuckDB gate (the
    * tumbling_window_streamed pattern): events replay through a parquet
    * file-source stream, intervals close in flatMapGroupsWithState
    * keyed state, and the settled rows — the closed emission preferred
    * over its optimistic open twin — must hash-match the same oracle as
    * the batch `scd2_history`. stream == batch == external engine. */
  def scd2HistoryStreamed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val events = Tables.eventsStream(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .as[graft.streaming.VersionEvent]
    val out = graft.streaming.StreamingPipeline.streamingScd2(events)
    val settle = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("event_id"))
      .orderBy(col("valid_to").asc_nulls_last)
    graft.streaming.StreamGate.collect("scd2_streamed", out.toDF())
      .withColumn("rn", row_number().over(settle)).filter(col("rn") === 1)
      .select(col("user_id"), col("event_id"), col("valid_from"),
        col("valid_to"), col("value"), col("is_current"))
      .orderBy(col("user_id"), col("valid_from"), col("event_id"))
  }

  /** The stateful STATE-STORE streaming operator (SURVEY §2.9 ST4 —
    * the one row previously covered only by stateless streamed
    * maintenance): late-data dedup of the events stream with
    * `dropDuplicatesWithinWatermark` keyed on (user_id, event_type).
    * The physical plan carries a StreamingDeduplicateWithinWatermark
    * state store; per-key state expires at event-time + 1h, so state
    * is bounded by the key cardinality inside the watermark horizon —
    * the 100 TB-safe configuration (an unbounded dropDuplicates pins
    * every key forever). Event-time semantics (first arrival wins,
    * rows older than the watermark dropped as late) are spec-forced in
    * StreamingSpec with a two-batch MemoryStream; under the oracle
    * gate the whole table replays as one AvailableNow batch, where the
    * emitted key set equals batch DISTINCT — only the KEY columns are
    * emitted, so the result is deterministic no matter which physical
    * duplicate row wins the state race. stream == batch == oracle. */
  def dedupLateStreamed(spark: SparkSession, dir: String): DataFrame = {
    val deduped = Tables.eventsStream(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type"))
    graft.streaming.StreamGate.collect("dedup_late", deduped)
      .orderBy(col("user_id"), col("event_type"))
  }

  /** ST4 CUSTOM keyed state under the oracle gate: gap sessionization
    * via `flatMapGroupsWithState` + event-time timeout
    * ([[graft.streaming.StreamingPipeline.gapSessions]]) — the second
    * state-store API the row names, registered beside
    * `dedup_late_streamed`'s `dropDuplicatesWithinWatermark`. The
    * events table replays as an AvailableNow stream; per-user state
    * holds gap-disjoint compressed session intervals; a session emits
    * exactly when the watermark passes `last + gap`. A one-row
    * far-future sentinel (the `tumbling_window_streamed` trick) pushes
    * the final watermark so every real session's timeout fires; the
    * sentinel's own key is filtered out. The streamed per-session rows
    * then aggregate (batch, post-sink) to per-user (n_sessions,
    * n_events) — the exact shape and oracle of the batch
    * `session_window` query: stream == batch == external engine.
    * Cross-batch merge/bridge semantics and late-row drops are
    * spec-forced in StreamingSpec with a three-batch MemoryStream. */
  def sessionFmgsStreamed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sessions = graft.streaming.StreamingPipeline.gapSessions(
      Tables.eventsStream(spark, dir)
        .unionByName(CoverageQueries.sentinelStream(spark))
        .select(col("user_id"), col("event_id"), col("ts"),
          unix_micros(col("ts")).as("ts_us"))
        .withWatermark("ts", "1 hour")
        .as[graft.streaming.SessEvent],
      gapUs = 30L * 60L * 1000000L)
    graft.streaming.StreamGate.collect("session_fmgs", sessions.toDF())
      .filter(col("user_id") >= 0)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("n_events")).as("n_events"))
      .orderBy(col("user_id"))
  }

  /** ST4 on the THIRD keyed-state API: the same gap sessionization
    * through Spark 4's `transformWithState`
    * ([[graft.streaming.TwsSessions.gapSessionsTws]]) — named typed
    * state slots + first-class per-key event-time timers on the RocksDB
    * state store, versus fMGWS's single implicit timeout and blob
    * state. Same input, same sentinel watermark push, same post-sink
    * aggregation, and the SAME oracle SQL as `session_fmgs_streamed`,
    * so the two custom-state implementations and the external engine
    * must agree three ways. Multi-batch merge/bridge/late-drop
    * semantics are spec-forced in TwsSessionsSpec. */
  def sessionTwsStreamed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val events = Tables.eventsStream(spark, dir)
      .unionByName(CoverageQueries.sentinelStream(spark))
      .select(col("user_id"), col("event_id"), col("ts"),
        unix_micros(col("ts")).as("ts_us"))
      .withWatermark("ts", "1 hour")
      .as[graft.streaming.SessEvent]
    val sessions = graft.streaming.TwsSessions.gapSessionsTws(
      events, gapUs = 30L * 60L * 1000000L)
    // rocksdb conf rides INSIDE the gate's locked start window (the
    // Verify pool races a naked set/restore — see TwsSessions.rocksDbConfs)
    graft.streaming.StreamGate.collect("session_tws", sessions.toDF(),
      extraConfs = graft.streaming.TwsSessions.rocksDbConfs)
      .filter(col("user_id") >= 0)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("n_events")).as("n_events"))
      .orderBy(col("user_id"))
  }

  /** The backfill → streaming HANDOFF at the state level: sessions over
    * the first half of history are computed in BATCH
    * ([[graft.streaming.TwsSessions.batchSessionState]] — one windowed
    * pass, compressed per-user intervals), seeded into the
    * `transformWithState` processor as INITIAL STATE
    * (`StatefulProcessorWithInitialState`), and the stream replays ONLY
    * the second half. A session spanning the boundary exists half in
    * the seed and half in the stream; the interval merge welds it back
    * together, so the result must equal the batch sessionization of the
    * FULL table — which is exactly the oracle (the same gaps-and-islands
    * SQL as the two replay-everything twins). This is ST5's backfill
    * story without the replay cost: at 100 TB you sessionize history
    * once in batch and hand the stream just the open tail, instead of
    * re-streaming the archive. */
  def sessionBootstrapStreamed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val gapUs = 30L * 60L * 1000000L
    val cutoff = lit("2024-01-16").cast("timestamp")
    // the seed is materialized EAGERLY at the session's full batch
    // parallelism before the stream starts: left lazy, its window+rollup
    // would execute inside micro-batch 0 at the (deliberately small)
    // stream state-partition count — the backfill compute belongs to the
    // batch engine, the handoff should move only the compressed state
    val (seed, seedRdds) = graft.operators.LocalCheckpoints.tracked(
      graft.streaming.TwsSessions.batchSessionState(
        Tables.events(spark, dir).filter(col("ts") < cutoff)
          .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us")),
        gapUs))
    val streamHalf = Tables.eventsStream(spark, dir)
      .filter(col("ts") >= cutoff) // passes the far-future sentinel too
      .unionByName(CoverageQueries.sentinelStream(spark))
      .select(col("user_id"), col("event_id"), col("ts"),
        unix_micros(col("ts")).as("ts_us"))
      .withWatermark("ts", "1 hour")
      .as[graft.streaming.SessEvent]
    val sessions = graft.streaming.TwsSessions.gapSessionsTwsBootstrapped(
      streamHalf, gapUs, seed)
    // rocksdb conf rides INSIDE the gate's locked start window (the
    // Verify pool races a naked set/restore — see TwsSessions.rocksDbConfs)
    val streamed = graft.streaming.StreamGate.collect("session_boot", sessions.toDF(),
      extraConfs = graft.streaming.TwsSessions.rocksDbConfs)
    // the completed replay consumed the seed (initial state loaded in
    // micro-batch 0); its blocks would otherwise stay pinned for the
    // session lifetime
    graft.operators.LocalCheckpoints.free(seedRdds)
    streamed
      .filter(col("user_id") >= 0)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("n_events")).as("n_events"))
      .orderBy(col("user_id"))
  }

  /** MAP-typed keyed state under the oracle gate: per-user running
    * event-type counts through `transformWithState` + `MapState`
    * ([[graft.streaming.TwsCounts]]) — each increment touches ONE map
    * entry in the RocksDB store instead of rewriting a per-key blob
    * (the write-amplification argument for the API at 100 TB). Counts
    * are monotone, so data batches emit nothing — each re-arms a
    * watermark+1 timer, and the snapshot flushes in the key's first
    * no-input batch (under default no-data microbatches, promptly
    * after each data batch; superseding snapshots on later input).
    * Post-sink settles by max(n) per (user, type) — monotonicity makes
    * the max the latest snapshot — and the oracle is the plain batch
    * GROUP BY. */
  def typeCountsTwsStreamed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val events = Tables.eventsStream(spark, dir)
      .unionByName(CoverageQueries.sentinelStream(spark))
      .select(col("user_id"), col("event_type"), col("ts"))
      .withWatermark("ts", "1 hour")
      .as[graft.streaming.TypedEvent]
    val counts = graft.streaming.TwsCounts.typeCounts(events)
    // rocksdb conf rides INSIDE the gate's locked start window (the
    // Verify pool races a naked set/restore — see TwsSessions.rocksDbConfs)
    graft.streaming.StreamGate.collect("type_counts", counts.toDF(),
      extraConfs = graft.streaming.TwsSessions.rocksDbConfs)
      .filter(col("user_id") >= 0)
      .groupBy(col("user_id"), col("event_type"))
      .agg(max(col("n")).as("n"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** Update OUTPUT MODE under the oracle gate — the third of the three
    * streaming output modes (append is everywhere, complete backs the
    * streamed sketch merge): the engine's own incremental stateful
    * aggregate re-emits each CHANGED group per microbatch, so a
    * dashboard sink sees monotone count revisions without waiting for
    * any watermark flush (there is no watermark here at all — update
    * mode is what makes that legal). Counts are monotone, so the
    * settled ledger (max per key) equals the final totals; at scale
    * the state is one long per group and the per-batch emission is
    * bounded by groups TOUCHED in the batch, not total groups. */
  def typeCountsUpdateStreamed(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.eventsStream(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
    graft.streaming.StreamGate.collect("type_counts_upd", counts, outputMode = "update")
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n"))
      .orderBy(col("event_type"))
  }

  /** LIST-typed keyed state under the oracle gate: per-user last-3
    * events through `transformWithState` + `ListState`
    * ([[graft.streaming.TwsRecent]]) — the online "recent history"
    * feature buffer, evicted by EVENT time (late rows slot in
    * correctly), emitted as slot-numbered snapshots at each key's
    * no-input batch. The j-th newest of a growing set is monotone in
    * (ts, event_id), so the post-sink settle takes max(struct(ts,
    * event_id)) per (user, slot); the oracle is the batch top-3
    * ROW_NUMBER window. */
  def userRecentEventsStreamed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val events = Tables.eventsStream(spark, dir)
      .unionByName(CoverageQueries.sentinelStream(spark))
      .select(col("user_id"), col("event_id"), col("ts"))
      .withWatermark("ts", "1 hour")
      .as[graft.streaming.RecentIn]
    val recent = graft.streaming.TwsRecent.recentEvents(events, 3)
    // rocksdb conf rides INSIDE the gate's locked start window (the
    // Verify pool races a naked set/restore — see TwsSessions.rocksDbConfs)
    graft.streaming.StreamGate.collect("recent_events", recent.toDF(),
      extraConfs = graft.streaming.TwsSessions.rocksDbConfs)
      .filter(col("user_id") >= 0)
      .groupBy(col("user_id"), col("slot"))
      .agg(max(struct(col("ts"), col("event_id"))).as("m"))
      .select(col("user_id"), col("slot"),
        col("m.event_id").as("event_id"), col("m.ts").as("ts"))
      .orderBy(col("user_id"), col("slot"))
  }

  /** The stream-STREAM interval join under the oracle gate (SURVEY
    * §2.9 — previously spec-only): purchases matched to the same
    * user's signups within 7 days before them, through
    * [[graft.streaming.StreamingPipeline.streamIntervalJoin]] —
    * watermarks on BOTH sides plus the time-range predicate bound the
    * join state (without them a stream-stream join buffers every row
    * forever, the 100 TB failure mode). Under the gate both sides
    * replay as AvailableNow streams and every match emits in-batch;
    * the DuckDB oracle is the equivalent batch range join:
    * stream == batch == external engine. */
  def streamIntervalJoinStreamed(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.eventsStream(spark, dir)
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_event_id"), col("ts").as("p_ts"))
    val signups = src.filter(col("event_type") === "signup")
      .select(col("user_id"), col("event_id").as("s_event_id"), col("ts").as("s_ts"))
    val joined = graft.streaming.StreamingPipeline.streamIntervalJoin(
      purchases, signups, key = "user_id", leftTs = "p_ts", rightTs = "s_ts",
      delay = "1 hour", horizon = "7 days")
      .select(col("l.user_id").as("user_id"), col("p_event_id"),
        col("s_event_id"), col("p_ts"), col("s_ts"))
    // inner join: every match emits inside the data batch; the trailing
    // no-data batch would only evict state the teardown deletes anyway
    graft.streaming.StreamGate.collect("ssjoin", joined, skipNoDataBatch = true)
      .orderBy(col("user_id"), col("p_event_id"), col("s_event_id"))
  }

  /** LEFT-OUTER stream-stream interval join: every purchase emits, with
    * its signup match when one exists inside the 7-day window and a
    * null-extended row otherwise. Outer emission is the part inner
    * joins never exercise: an unmatched left row is only FINAL once the
    * right-side watermark passes its match window, so two far-future
    * sentinels (one per event type, filtered from the output) push both
    * watermarks past all real data and the AvailableNow no-data batch
    * flushes every pending unmatched purchase. Nulls are coalesced to
    * -1 BEFORE the sink so ordering and the cross-engine hash never
    * depend on engine null-sort rules. */
  def streamIntervalJoinLeftStreamed(spark: SparkSession, dir: String): DataFrame = {
    def sentinelAs(tpe: String): DataFrame =
      CoverageQueries.sentinelStream(spark).withColumn("event_type", lit(tpe))
    val src = Tables.eventsStream(spark, dir)
      .unionByName(sentinelAs("purchase")).unionByName(sentinelAs("signup"))
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_event_id"), col("ts").as("p_ts"))
    val signups = src.filter(col("event_type") === "signup")
      .select(col("user_id"), col("event_id").as("s_event_id"), col("ts").as("s_ts"))
    // The sentinel is dropped AFTER the sink, not here: a deterministic
    // predicate on a left-side column (p_event_id >= 0) is pushable
    // through a left-outer join and lands BELOW the EventTimeWatermark
    // operator, silently removing the sentinel from the watermark
    // bookkeeping — the final-hour unmatched rows then never flush
    // (caught by the sf0.1 oracle: 2 rows short).
    val joined = graft.streaming.StreamingPipeline.streamIntervalJoin(
      purchases, signups, key = "user_id", leftTs = "p_ts", rightTs = "s_ts",
      delay = "1 hour", horizon = "7 days", joinType = "left_outer")
      .select(col("l.user_id").as("user_id"), col("p_event_id"),
        coalesce(col("s_event_id"), lit(-1L)).as("s_event_id"), col("p_ts"),
        col("s_event_id").isNotNull.as("matched"))
    graft.streaming.StreamGate.collect("ssljoin", joined)
      .filter(col("p_event_id") >= 0)
      .orderBy(col("user_id"), col("p_event_id"), col("s_event_id"))
  }

  /** Hourly OHLC bars per user — the time-series bar aggregation
    * (open/high/low/close + count) with deterministic (ts, event_id)
    * endpoint tiebreaks. The two endpoint windows and the rollup all
    * share the (user_id, hour) hash partitioning, so the plan carries
    * ONE exchange; min/max/count are exact and order-independent. */
  def eventsOhlcBars(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), date_trunc("hour", col("ts")).as("bar_ts"),
        col("ts"), col("event_id"), col("value"))
    val asc = Window.partitionBy(col("user_id"), col("bar_ts"))
      .orderBy(col("ts"), col("event_id"))
    val desc = Window.partitionBy(col("user_id"), col("bar_ts"))
      .orderBy(col("ts").desc, col("event_id").desc)
    ev.withColumn("rn_open", row_number().over(asc))
      .withColumn("rn_close", row_number().over(desc))
      .groupBy(col("user_id"), col("bar_ts"))
      .agg(
        max(when(col("rn_open") === 1, col("value"))).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max(when(col("rn_close") === 1, col("value"))).as("close"),
        count(lit(1)).as("n_events"))
      .orderBy(col("user_id"), col("bar_ts"))
  }

  /** Rolling z-score anomaly detection over each user's value series —
    * the streaming-metrics shape (data-quality monitors, drift alarms)
    * as ONE window pass: mean/stddev over the 20 preceding events
    * (frame EXCLUDES the current row so a spike can't mask itself),
    * z = (value − μ)/σ where at least 5 priors exist. One exchange on
    * user_id serves all three frame aggregates; the per-user series
    * sorts locally inside its partition, so the plan is shuffle → sort
    * → window regardless of total scale. Cross-engine double hygiene
    * (the repo's moment discipline, hardened per ADVICE r9): windowed
    * μ/σ built-ins differ across engines by ~1e-6 — Spark
    * re-accumulates sliding frames, DuckDB segment-trees them — so a z
    * landing on a rounding or threshold boundary could flip a row in
    * or out of the compared set. Instead the frame aggregates EXACT
    * integer sums of micro-quantized values (Σv, Σv² as
    * decimal/HUGEINT — both engines produce bit-identical integers),
    * and μ, σ, z derive in textually identical double arithmetic from
    * those identical inputs, so no boundary can disagree. */
  def eventsAnomalyZscore(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(-20, -1)
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        round(col("value") * lit(1e6)).cast("long").as("vm"))
      .withColumn("n", count(col("vm")).over(w))
      .withColumn("s1", sum(col("vm")).over(w))
      .withColumn("s2", sum(col("vm").cast(DecimalType(38, 0)) * col("vm")).over(w))
      .filter(col("n") >= 5)
      .select(col("user_id"), col("event_id"), col("vm").cast("double").as("vd"),
        col("n").cast("double").as("nd"), col("s1").cast("double").as("s1d"),
        col("s2").cast("double").as("s2d"))
      .withColumn("varr",
        (col("s2d") - col("s1d") * col("s1d") / col("nd")) / (col("nd") - 1))
      .filter(col("varr") > 0)
      .withColumn("z",
        round((col("vd") - col("s1d") / col("nd")) / sqrt(col("varr")), 4))
      .filter(abs(col("z")) >= 2)
      .select(col("user_id"), col("event_id"), col("z"),
        (abs(col("z")) >= 3).as("is_anomaly"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** First-order Markov transition matrix over per-user event-type
    * sequences — the behavioral-model fit (next-event prediction,
    * anomalous-sequence scoring) reduced to lag + count: P(to|from) =
    * n(from→to) / n(from→*). The lag pass shuffles once on user_id;
    * the bigram space is |types|² (25 here), so the normalizing window
    * runs over a broadcast-sized aggregate — at 100 TB the heavy input
    * collapses to tiny partials before anything global happens. The
    * probability divides two exact counts, so the double is
    * bit-identical across engines. */
  def eventsMarkovTransitions(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val seq = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(seq))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type").as("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p", col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy(col("from_type"))).cast("double"))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** Last-touch attribution: each purchase credits the user's most
    * recent preceding non-purchase event within 7 days, else counts as
    * "direct". The carry-forward is `last(..., ignoreNulls)` over an
    * unbounded-preceding frame — one user_id exchange, no join at all
    * (the naive formulation is a per-purchase correlated subquery; the
    * window rewrite turns it into a single sorted pass, which is the
    * 100 TB-safe plan). The type and timestamp carries share one frame
    * and the same null-masking predicate, so they always come from the
    * SAME touch row. */
  def eventsAttribution(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val notPurchase = col("event_type") =!= "purchase"
    Tables.events(spark, dir)
      // both carries in ONE projection: sequential withColumns would
      // leave a Project between two identical-spec Window operators,
      // which blocks CollapseWindow — this way the plan runs a single
      // Window pass computing both
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        last(when(notPurchase, col("event_type")), ignoreNulls = true)
          .over(w).as("touch_type"),
        last(when(notPurchase, col("ts")), ignoreNulls = true)
          .over(w).as("touch_ts"))
      .filter(col("event_type") === "purchase")
      .select(when(col("touch_ts") >= col("ts") - expr("INTERVAL 7 DAYS"),
        col("touch_type")).otherwise(lit("direct")).as("touch_type"))
      .groupBy(col("touch_type"))
      .agg(count(lit(1)).as("n_purchases"))
      .orderBy(col("touch_type"))
  }

  /** Per-user journey strings — the first 8 events concatenated in
    * event-time order ("signup>view>click>…"), the sequence-as-string
    * feature session-embedding and journey-clustering pipelines start
    * from. Ordered string aggregation is a determinism trap at scale:
    * `collect_list` order is partition-arrival order, so the rows are
    * rank-stamped first and the collected (rn, type) structs are
    * `array_sort`ed before joining — same one user_id exchange as any
    * windowed query, with the per-user payload capped at 8 structs
    * before the aggregate ever shuffles. */
  def eventsPathString(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 8)
      .groupBy(col("user_id"))
      .agg(array_sort(collect_list(struct(col("rn"), col("event_type"))))
        .as("steps"), count(lit(1)).as("n_events"))
      .select(col("user_id"),
        array_join(expr("transform(steps, x -> x.event_type)"), ">").as("path"),
        col("n_events"))
      .orderBy(col("user_id"))
  }

  /** Cohort retention on the ORDERS table — the same month-offset shape
    * as `cohort_retention`, but deliberately events-independent: §2.4
    * temporal-analytic coverage shouldn't ride entirely on one table's
    * loader (round 7 lost every events consumer to a single encoding
    * change). Cohort = month of the customer's first order. Scale: both
    * the first-order agg and the join shuffle on `o_custkey` — one key,
    * co-partitioned, map-side partial aggs; no broadcast needed and no
    * skew (custkey is uniform). */
  def ordersCohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val cohorts = o.groupBy(col("o_custkey"))
      .agg(date_trunc("month", min(col("o_orderdate"))).as("cohort"))
    o.join(cohorts, Seq("o_custkey"))
      .withColumn("month_offset",
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          - (year(col("cohort")) * 12 + month(col("cohort"))))
      .groupBy(col("cohort"), col("month_offset"))
      .agg(countDistinct(col("o_custkey")).as("n_active"))
      .orderBy(col("cohort"), col("month_offset"))
  }

  /** Repeat-purchase funnel on ORDERS (events-independent twin of
    * `funnel_conversion`): per first-order month, how many customers
    * placed another order within 30 days. The 30-day bound lives IN the
    * join condition (not a post-filter), so Spark prunes non-qualifying
    * pairs during the join instead of materializing the full
    * customer×order match — the DuckDB oracle's join-on-key-only CASE
    * formulation is equivalent relationally but would explode at scale. */
  def ordersRepeatFunnel(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val first = o.groupBy(col("o_custkey")).agg(min(col("o_orderdate")).as("first_dt"))
    val later = o.select(col("o_custkey").as("r_custkey"), col("o_orderdate").as("r_dt"))
    first.join(later,
        col("o_custkey") === col("r_custkey")
          && col("r_dt") > col("first_dt")
          && col("r_dt") <= col("first_dt") + expr("INTERVAL 30 DAY"),
        "left")
      .groupBy(col("o_custkey"), col("first_dt"))
      .agg(max(when(col("r_dt").isNotNull, 1).otherwise(0)).as("rep"))
      .groupBy(date_trunc("month", col("first_dt")).as("first_month"))
      .agg(
        count(lit(1)).as("n_customers"),
        sum(col("rep")).cast("bigint").as("n_repeat"),
        round(sum(col("rep")).cast("double") / count(lit(1)).cast("double"), 6)
          .as("repeat_rate"))
      .orderBy(col("first_month"))
  }

  /** Ordered event-SEQUENCE matching (the MATCH_RECOGNIZE /
    * windowFunnel analog): per user, does signup → view → purchase
    * occur in order, all within 48 hours of the user's FIRST signup?
    * Implemented as greedy-earliest stepwise matching — earliest
    * signup, then the earliest later view inside the window, then any
    * later purchase inside the window; greedy-earliest is complete for
    * fixed-window subsequence detection (taking the earliest qualifying
    * view maximizes the remaining window). The plan is three keyed
    * filters/aggregations and equi-joins on user_id: no per-user
    * history is ever materialized (a collect_list-and-scan formulation
    * would pin one pathological user's billion events in one task),
    * so the shape survives 100 TB unchanged. Ties order by the unique
    * (ts, event_id) struct in both engines. */
  def eventsSequenceMatch(spark: SparkSession, dir: String): DataFrame =
    eventsSequenceMatchFrom(Tables.events(spark, dir))

  /** Frame-injectable core of [[eventsSequenceMatch]] so the boundary
    * semantics (window inclusivity, ties, step order) are unit-testable
    * on synthetic histories, not only on the fixed testdata. */
  private[graft] def eventsSequenceMatchFrom(events: DataFrame): DataFrame = {
    val ev = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    def k = struct(col("ts"), col("event_id"))
    val s = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(k).as("s_k"))
      .select(col("user_id"), col("s_k"),
        (col("s_k.ts") + expr("INTERVAL 48 HOURS")).as("deadline"))
    val v = ev.filter(col("event_type") === "view").join(s, "user_id")
      .filter(k > col("s_k") && col("ts") <= col("deadline"))
      .groupBy(col("user_id"))
      .agg(min(k).as("v_k"), max(col("deadline")).as("deadline"))
    val matched = ev.filter(col("event_type") === "purchase").join(v, "user_id")
      .filter(k > col("v_k") && col("ts") <= col("deadline"))
      .select(col("user_id")).distinct()
      .withColumn("matched", lit(true))
    ev.groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
      .join(matched, Seq("user_id"), "left")
      .select(col("user_id"), col("n_events"),
        coalesce(col("matched"), lit(false)).as("matched"))
      .orderBy(col("user_id"))
  }

  /** ST4: [[eventsSequenceMatch]] as a STREAMED state-store job under
    * the same DuckDB oracle — the windowed funnel through
    * [[graft.streaming.StreamingPipeline.funnelMatch]]'s watermark
    * reorder buffer + O(1) step machine. The whole events table replays
    * as an AvailableNow stream; the far-future sentinel pushes the
    * final watermark so every user's buffered history folds and emits;
    * snapshots settle by max fold frontier (exactly one per user under
    * the single-batch gate). stream == batch == external engine. */
  def funnelMatchStreamed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val src = Tables.eventsStream(spark, dir)
      .unionByName(CoverageQueries.sentinelStream(spark))
      .select(col("user_id"), col("event_id"), col("ts"),
        unix_micros(col("ts")).as("ts_us"), col("event_type"))
      .withWatermark("ts", "1 hour")
      .as[graft.streaming.FunnelEvent]
    val out = graft.streaming.StreamingPipeline.funnelMatch(
      src, windowUs = 48L * 3600L * 1000000L)
    val settle = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("frontier_us").desc, col("n_events").desc)
    graft.streaming.StreamGate.collect("funnel_streamed", out.toDF())
      .withColumn("rn", row_number().over(settle)).filter(col("rn") === 1)
      .filter(col("user_id") >= 0)
      .select(col("user_id"), col("n_events"), col("matched"))
      .orderBy(col("user_id"))
  }

  /** RFM (recency / frequency / monetary) customer segmentation on
    * ORDERS — the classic curation-adjacent scoring shape: one
    * map-combined agg per customer, then threshold CASEs (no ntile —
    * a global ntile needs a single-partition window, the 100 TB
    * anti-pattern; fixed business thresholds keep the whole plan
    * map-side after the one keyed shuffle). `as_of` is the corpus max
    * order date, broadcast as a one-row frame. */
  def ordersRfm(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val bounds = o.agg(max(col("o_orderdate")).as("as_of"))
    o.join(broadcast(bounds))
      .groupBy(col("o_custkey"))
      .agg(
        datediff(to_date(max(col("as_of"))), to_date(max(col("o_orderdate"))))
          .as("recency_days"),
        count(lit(1)).as("frequency"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double")
          .as("monetary"))
      .withColumn("rfm",
        (when(col("recency_days") <= 365, 3)
          .when(col("recency_days") <= 730, 2).otherwise(1) * 100)
          + (when(col("frequency") >= 12, 3)
            .when(col("frequency") >= 8, 2).otherwise(1) * 10)
          + when(col("monetary") >= 1800000d, 3)
            .when(col("monetary") >= 1200000d, 2).otherwise(1))
      .orderBy(col("o_custkey"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_sequence_match" -> (eventsSequenceMatch _),
    "funnel_match_streamed" -> (funnelMatchStreamed _),
    "orders_rfm" -> (ordersRfm _),
    "orders_cohort_retention" -> (ordersCohortRetention _),
    "orders_repeat_funnel" -> (ordersRepeatFunnel _),
    "events_resample" -> (eventsResample _),
    "funnel_conversion" -> (funnelConversion _),
    "cohort_retention" -> (cohortRetention _),
    "scd2_history" -> (scd2History _),
    "scd2_history_streamed" -> (scd2HistoryStreamed _),
    "dedup_late_streamed" -> (dedupLateStreamed _),
    "session_fmgs_streamed" -> (sessionFmgsStreamed _),
    "session_tws_streamed" -> (sessionTwsStreamed _),
    "session_bootstrap_streamed" -> (sessionBootstrapStreamed _),
    "type_counts_tws_streamed" -> (typeCountsTwsStreamed _),
    "user_recent_events_streamed" -> (userRecentEventsStreamed _),
    "type_counts_update_streamed" -> (typeCountsUpdateStreamed _),
    "stream_interval_join_streamed" -> (streamIntervalJoinStreamed _),
    "stream_interval_join_left_streamed" -> (streamIntervalJoinLeftStreamed _),
    "events_ohlc_bars" -> (eventsOhlcBars _),
    "events_anomaly_zscore" -> (eventsAnomalyZscore _),
    "events_markov_transitions" -> (eventsMarkovTransitions _),
    "events_attribution" -> (eventsAttribution _),
    "events_path_string" -> (eventsPathString _)
  )

  val oracles: Map[String, String] = Map(
    "events_sequence_match" -> funnelOracleSql,
    // one AvailableNow replay folds each user's full history in order,
    // so the streamed machine must reproduce the batch funnel exactly
    "funnel_match_streamed" -> funnelOracleSql,
    "orders_rfm" ->
      """WITH b AS (SELECT MAX(o_orderdate) AS as_of FROM orders),
        |agg AS (
        |  SELECT o_custkey,
        |         date_diff('day', CAST(MAX(o_orderdate) AS DATE),
        |                   CAST(MAX(as_of) AS DATE)) AS recency_days,
        |         COUNT(*) AS frequency,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |           AS monetary
        |  FROM orders, b GROUP BY o_custkey)
        |SELECT o_custkey, recency_days, frequency, monetary,
        |       (CASE WHEN recency_days <= 365 THEN 3
        |             WHEN recency_days <= 730 THEN 2 ELSE 1 END) * 100
        |       + (CASE WHEN frequency >= 12 THEN 3
        |               WHEN frequency >= 8 THEN 2 ELSE 1 END) * 10
        |       + (CASE WHEN monetary >= 1800000 THEN 3
        |               WHEN monetary >= 1200000 THEN 2 ELSE 1 END) AS rfm
        |FROM agg ORDER BY o_custkey""".stripMargin,
    "orders_cohort_retention" ->
      """WITH c AS (
        |  SELECT o_custkey, date_trunc('month', MIN(o_orderdate)) AS cohort
        |  FROM orders GROUP BY o_custkey)
        |SELECT c.cohort,
        |       (year(o.o_orderdate) * 12 + month(o.o_orderdate))
        |         - (year(c.cohort) * 12 + month(c.cohort)) AS month_offset,
        |       COUNT(DISTINCT o.o_custkey) AS n_active
        |FROM orders o JOIN c USING (o_custkey)
        |GROUP BY c.cohort, month_offset ORDER BY cohort, month_offset""".stripMargin,
    "orders_repeat_funnel" ->
      """WITH f AS (
        |  SELECT o_custkey, MIN(o_orderdate) AS first_dt
        |  FROM orders GROUP BY o_custkey),
        |r AS (
        |  SELECT f.o_custkey, f.first_dt,
        |         MAX(CASE WHEN o.o_orderdate > f.first_dt
        |                   AND o.o_orderdate <= f.first_dt + INTERVAL 30 DAY
        |                  THEN 1 ELSE 0 END) AS rep
        |  FROM f LEFT JOIN orders o ON o.o_custkey = f.o_custkey
        |  GROUP BY f.o_custkey, f.first_dt)
        |SELECT date_trunc('month', first_dt) AS first_month,
        |       COUNT(*) AS n_customers,
        |       CAST(SUM(rep) AS BIGINT) AS n_repeat,
        |       round(CAST(SUM(rep) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
        |         AS repeat_rate
        |FROM r GROUP BY first_month ORDER BY first_month""".stripMargin,
    "events_resample" ->
      """WITH b AS (
        |  SELECT user_id, date_trunc('hour', MIN(ts)) AS lo, MAX(ts) AS hi
        |  FROM events GROUP BY user_id),
        |grid AS (
        |  SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 6 HOUR)) AS grid_ts
        |  FROM b),
        |r AS (
        |  SELECT user_id, ts, event_id, value,
        |         ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
        |  FROM events)
        |SELECT g.user_id, g.grid_ts,
        |       e.event_id AS last_event_id, e.value AS last_value
        |FROM grid g ASOF LEFT JOIN (SELECT * FROM r WHERE rn = 1) e
        |  ON g.user_id = e.user_id AND g.grid_ts >= e.ts
        |ORDER BY g.user_id, g.grid_ts""".stripMargin,
    "funnel_conversion" ->
      """WITH s AS (
        |  SELECT user_id, MIN(ts) AS signup_ts
        |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
        |pu AS (
        |  SELECT s.user_id, s.signup_ts,
        |         MAX(CASE WHEN e.ts > s.signup_ts
        |                   AND e.ts <= s.signup_ts + INTERVAL 7 DAY
        |                  THEN 1 ELSE 0 END) AS converted
        |  FROM s LEFT JOIN events e
        |    ON e.user_id = s.user_id AND e.event_type = 'purchase'
        |  GROUP BY s.user_id, s.signup_ts)
        |SELECT date_trunc('day', signup_ts) AS signup_day,
        |       COUNT(*) AS n_signups,
        |       CAST(SUM(converted) AS BIGINT) AS n_converted,
        |       round(CAST(SUM(converted) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
        |         AS conv_rate
        |FROM pu GROUP BY signup_day ORDER BY signup_day""".stripMargin,
    "cohort_retention" ->
      """WITH c AS (
        |  SELECT user_id, date_trunc('month', MIN(ts)) AS cohort
        |  FROM events WHERE event_type = 'signup' GROUP BY user_id)
        |SELECT c.cohort,
        |       (year(e.ts) * 12 + month(e.ts))
        |         - (year(c.cohort) * 12 + month(c.cohort)) AS month_offset,
        |       COUNT(DISTINCT e.user_id) AS n_active
        |FROM events e JOIN c USING (user_id)
        |GROUP BY c.cohort, month_offset ORDER BY cohort, month_offset""".stripMargin,
    "scd2_history" -> scd2OracleSql,
    "scd2_history_streamed" -> scd2OracleSql,
    // one AvailableNow batch replays the whole table, so the streamed
    // state-store dedup's emitted key set equals batch DISTINCT
    "dedup_late_streamed" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,
    // the batch session_window oracle verbatim (gaps-and-islands):
    // one AvailableNow pass hands each key its full sorted history, so
    // the state-store sessionization must reproduce it exactly
    "session_fmgs_streamed" ->
      """WITH gaps AS (
        |  SELECT user_id, ts,
        |         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |marks AS (
        |  SELECT user_id,
        |         CASE WHEN prev_ts IS NULL OR ts - prev_ts >= INTERVAL 30 MINUTE
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM gaps)
        |SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
        |FROM marks GROUP BY user_id ORDER BY user_id""".stripMargin,
    // same oracle for the transformWithState twin: both keyed-state
    // implementations must reproduce the batch gaps-and-islands exactly
    "session_tws_streamed" ->
      """WITH gaps AS (
        |  SELECT user_id, ts,
        |         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |marks AS (
        |  SELECT user_id,
        |         CASE WHEN prev_ts IS NULL OR ts - prev_ts >= INTERVAL 30 MINUTE
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM gaps)
        |SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
        |FROM marks GROUP BY user_id ORDER BY user_id""".stripMargin,
    // the bootstrap handoff must reconstruct the FULL-table batch
    // sessionization even though the stream saw only the second half —
    // same oracle again, including the boundary-spanning sessions
    "session_bootstrap_streamed" ->
      """WITH gaps AS (
        |  SELECT user_id, ts,
        |         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |marks AS (
        |  SELECT user_id,
        |         CASE WHEN prev_ts IS NULL OR ts - prev_ts >= INTERVAL 30 MINUTE
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM gaps)
        |SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
        |FROM marks GROUP BY user_id ORDER BY user_id""".stripMargin,
    // map-state running counts: one final snapshot per key under the
    // single-replay gate, so the ledger equals the batch GROUP BY
    "type_counts_tws_streamed" ->
      """SELECT user_id, event_type, COUNT(*) AS n FROM events
        |GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin,
    // update-mode running aggregate: monotone counts settle by max to
    // the plain batch totals
    "type_counts_update_streamed" ->
      """SELECT event_type, COUNT(*) AS n FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // list-state recent-k buffer: the settled ledger equals the batch
    // per-user top-3 by (ts, event_id)
    "user_recent_events_streamed" ->
      """WITH r AS (
        |  SELECT user_id, event_id, ts,
        |         ROW_NUMBER() OVER (PARTITION BY user_id
        |                            ORDER BY ts DESC, event_id DESC) AS slot
        |  FROM events)
        |SELECT user_id, CAST(slot AS INT) AS slot, event_id, ts
        |FROM r WHERE slot <= 3
        |ORDER BY user_id, slot""".stripMargin,
    // the equivalent batch range join: the streamed inner interval join
    // emits exactly the matches, so one AvailableNow replay == batch
    "stream_interval_join_streamed" ->
      """SELECT l.user_id, l.event_id AS p_event_id, r.event_id AS s_event_id,
        |       l.ts AS p_ts, r.ts AS s_ts
        |FROM events l JOIN events r
        |  ON l.user_id = r.user_id
        | AND r.ts <= l.ts AND r.ts >= l.ts - INTERVAL 7 DAY
        |WHERE l.event_type = 'purchase' AND r.event_type = 'signup'
        |ORDER BY l.user_id, p_event_id, s_event_id""".stripMargin,
    "stream_interval_join_left_streamed" ->
      """WITH p AS (SELECT user_id, event_id AS p_event_id, ts AS p_ts
        |           FROM events WHERE event_type = 'purchase'),
        |     s AS (SELECT user_id, event_id AS s_event_id, ts AS s_ts
        |           FROM events WHERE event_type = 'signup')
        |SELECT p.user_id, p.p_event_id,
        |       COALESCE(s.s_event_id, -1) AS s_event_id, p.p_ts,
        |       s.s_event_id IS NOT NULL AS matched
        |FROM p LEFT JOIN s
        |  ON p.user_id = s.user_id
        | AND s.s_ts <= p.p_ts AND s.s_ts >= p.p_ts - INTERVAL 7 DAY
        |ORDER BY p.user_id, p_event_id, s_event_id""".stripMargin,
    "events_ohlc_bars" ->
      """WITH e AS (
        |  SELECT user_id, date_trunc('hour', ts) AS bar_ts, ts, event_id, value
        |  FROM events),
        |r AS (
        |  SELECT *,
        |         ROW_NUMBER() OVER (PARTITION BY user_id, bar_ts
        |                            ORDER BY ts, event_id) AS rn_open,
        |         ROW_NUMBER() OVER (PARTITION BY user_id, bar_ts
        |                            ORDER BY ts DESC, event_id DESC) AS rn_close
        |  FROM e)
        |SELECT user_id, bar_ts,
        |       MAX(CASE WHEN rn_open = 1 THEN value END) AS open,
        |       MAX(value) AS high, MIN(value) AS low,
        |       MAX(CASE WHEN rn_close = 1 THEN value END) AS close,
        |       COUNT(*) AS n_events
        |FROM r GROUP BY user_id, bar_ts
        |ORDER BY user_id, bar_ts""".stripMargin,
    // exact-integer frame sums (Σv, Σv² over micro-quantized values),
    // then μ/σ/z in textually identical double arithmetic — the moment
    // discipline that removes rounding-boundary flips entirely
    "events_anomaly_zscore" ->
      """WITH e AS (
        |  SELECT user_id, ts, event_id,
        |         CAST(ROUND(value * 1e6) AS BIGINT) AS vm
        |  FROM events),
        |w AS (
        |  SELECT user_id, event_id, vm,
        |         COUNT(vm) OVER win AS n,
        |         SUM(vm) OVER win AS s1,
        |         SUM(CAST(vm AS HUGEINT) * vm) OVER win AS s2
        |  FROM e
        |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)),
        |v AS (
        |  SELECT user_id, event_id, CAST(vm AS DOUBLE) AS vd,
        |         CAST(n AS DOUBLE) AS nd, CAST(s1 AS DOUBLE) AS s1d,
        |         CAST(s2 AS DOUBLE) AS s2d
        |  FROM w WHERE n >= 5),
        |z AS (
        |  SELECT user_id, event_id,
        |         ROUND((vd - s1d / nd)
        |               / SQRT((s2d - s1d * s1d / nd) / (nd - 1)), 4) AS z
        |  FROM v
        |  WHERE (s2d - s1d * s1d / nd) / (nd - 1) > 0)
        |SELECT user_id, event_id, z, ABS(z) >= 3 AS is_anomaly
        |FROM z WHERE ABS(z) >= 2
        |ORDER BY user_id, event_id""".stripMargin,
    "events_markov_transitions" ->
      """WITH b AS (
        |  SELECT user_id, event_type,
        |         LAG(event_type) OVER (PARTITION BY user_id
        |                               ORDER BY ts, event_id) AS prev_type
        |  FROM events)
        |SELECT prev_type AS from_type, event_type AS to_type, COUNT(*) AS n,
        |       CAST(COUNT(*) AS DOUBLE) /
        |         CAST(SUM(COUNT(*)) OVER (PARTITION BY prev_type) AS DOUBLE) AS p
        |FROM b WHERE prev_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // ordered string_agg mirrors the rank-stamped sorted-struct join
    "events_path_string" ->
      """WITH r AS (
        |  SELECT user_id, event_type,
        |         ROW_NUMBER() OVER (PARTITION BY user_id
        |                            ORDER BY ts, event_id) AS rn
        |  FROM events)
        |SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path,
        |       COUNT(*) AS n_events
        |FROM r WHERE rn <= 8
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    // the oracle keeps the window formulation; the CASE's NULL → ELSE
    // path is what maps no-preceding-touch to 'direct' in both engines
    "events_attribution" ->
      """WITH t AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END
        |               IGNORE NULLS) OVER win AS touch_type,
        |    LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN ts END
        |               IGNORE NULLS) OVER win AS touch_ts
        |  FROM events
        |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT CASE WHEN touch_ts >= ts - INTERVAL 7 DAY THEN touch_type
        |            ELSE 'direct' END AS touch_type,
        |       COUNT(*) AS n_purchases
        |FROM t WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY 1""".stripMargin
  )

  /** Shared by the batch query and its streamed state-store twin. */
  private lazy val funnelOracleSql: String =
    """WITH s AS (
      |  SELECT user_id, ts AS s_ts, event_id AS s_id FROM (
      |    SELECT user_id, ts, event_id,
      |           ROW_NUMBER() OVER (PARTITION BY user_id
      |                              ORDER BY ts, event_id) AS rn
      |    FROM events WHERE event_type = 'signup') WHERE rn = 1),
      |v AS (
      |  SELECT user_id, v_ts, v_id FROM (
      |    SELECT e.user_id, e.ts AS v_ts, e.event_id AS v_id,
      |           ROW_NUMBER() OVER (PARTITION BY e.user_id
      |                              ORDER BY e.ts, e.event_id) AS rn
      |    FROM events e JOIN s USING (user_id)
      |    WHERE e.event_type = 'view' AND (e.ts, e.event_id) > (s.s_ts, s.s_id)
      |      AND e.ts <= s.s_ts + INTERVAL 48 HOUR) WHERE rn = 1),
      |m AS (
      |  SELECT DISTINCT e.user_id
      |  FROM events e JOIN v USING (user_id) JOIN s USING (user_id)
      |  WHERE e.event_type = 'purchase' AND (e.ts, e.event_id) > (v.v_ts, v.v_id)
      |    AND e.ts <= s.s_ts + INTERVAL 48 HOUR)
      |SELECT c.user_id, c.n_events, m.user_id IS NOT NULL AS matched
      |FROM (SELECT user_id, COUNT(*) AS n_events
      |      FROM events GROUP BY user_id) c
      |LEFT JOIN m USING (user_id) ORDER BY user_id""".stripMargin

  private lazy val scd2OracleSql: String =
    """SELECT user_id, event_id, ts AS valid_from,
      |       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |         AS valid_to,
      |       value,
      |       (lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |         IS NULL) AS is_current
      |FROM events
      |ORDER BY user_id, valid_from, event_id""".stripMargin
}
