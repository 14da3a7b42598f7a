package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.{SessEvent, SessionOut, TwsSessions}

/** `transformWithState` sessionization semantics (the third keyed-state
  * API): the same cross-batch merge / bridge / late-drop / timer-drain
  * contract StreamingSpec forces on the fMGWS twin, plus the
  * TransformWithState operator's presence in the physical plan. The
  * fixture is deliberately identical to the fMGWS spec's, so a
  * divergence between the two implementations fails one suite, not
  * both silently. */
class TwsSessionsSpec extends SparkSpec {
  import spark.implicits._

  private implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext

  test("TWS sessionization: cross-batch merge, bridge, late-drop, timer drain") {
    val gapUs = 30L * 60L * 1000000L
    val baseMin = 1440L
    def ev(uid: Long, eid: Long, min: Long): SessEvent = {
      val us = (baseMin + min) * 60L * 1000000L
      SessEvent(uid, eid, new Timestamp(us / 1000L), us)
    }
    def startMin(s: SessionOut): Long = s.session_start_us / 60000000L - baseMin
    def lastMin(s: SessionOut): Long = s.session_last_us / 60000000L - baseMin
    val stream = MemoryStream[SessEvent]
    val sessions = TwsSessions.gapSessionsTws(
      stream.toDS().withWatermark("ts", "600 minutes"), gapUs)
    TwsSessions.withRocksDb(spark) {
      val q = sessions.writeStream.format("memory").queryName("sess_tws_spec")
        .outputMode("append").start()
      try {
        def rows(): Seq[SessionOut] =
          spark.table("sess_tws_spec").as[SessionOut].collect().toSeq
        // batch 1: u1 opens (0,10); u2 a singleton; u3 two sessions 50'
        // apart that must stay separate (50 >= 30)
        stream.addData(ev(1, 1, 0), ev(1, 2, 10), ev(2, 3, 0),
          ev(3, 7, 100), ev(3, 8, 150))
        q.processAllAvailable() // watermark stays 0 (150 - 600 < 0)
        // batch 2: u1@20 extends batch 1's session ACROSS the batch
        // boundary; u1@120 opens a second session; u3@125 BRIDGES the
        // two batch-1 sessions; u99@900 pushes the watermark to 300 so
        // every real session's timer fires
        stream.addData(ev(1, 4, 20), ev(1, 5, 120), ev(3, 9, 125), ev(99, 6, 900))
        q.processAllAvailable()
        val afterB2 = rows()
        assert(afterB2.map(s => (s.user_id, startMin(s), lastMin(s), s.n_events)).toSet ===
          Set((1L, 0L, 20L, 3L), (1L, 120L, 120L, 1L), (2L, 0L, 0L, 1L),
            (3L, 100L, 150L, 3L)),
          s"unexpected session set: $afterB2")
        // bounded state: only u99's still-open session may remain
        val stateRows = Option(q.lastProgress).toSeq
          .flatMap(_.stateOperators.toSeq).map(_.numRowsTotal).sum
        assert(stateRows <= 1, s"state should hold only u99's key, found $stateRows rows")
        // batch 3: a late u1 row far behind the watermark must drop,
        // never resurrecting a closed session
        stream.addData(ev(1, 10, 5))
        q.processAllAvailable()
        assert(rows().size === afterB2.size, "late row must not emit a session")
        val planOut = new java.io.ByteArrayOutputStream
        Console.withOut(new java.io.PrintStream(planOut)) { q.explain() }
        assert(planOut.toString.contains("TransformWithState"),
          s"expected a TransformWithState operator in:\n$planOut")
      } finally q.stop()
    }
  }

  test("TWS bootstrap: seeded batch state welds boundary sessions to streamed rows") {
    import graft.streaming.{SessAcc, SessState}
    val gapUs = 30L * 60L * 1000000L
    val baseMin = 1440L
    def us(min: Long): Long = (baseMin + min) * 60L * 1000000L
    def ev(uid: Long, eid: Long, min: Long): SessEvent =
      SessEvent(uid, eid, new Timestamp(us(min) / 1000L), us(min))
    // seed: u1 has a CLOSED session [0,10]×2 and an OPEN boundary
    // session [100,110]×2; u2 only the closed [0,5]×3
    val seed = Seq(
      (1L, SessState(List(SessAcc(us(0), us(10), 2L), SessAcc(us(100), us(110), 2L)))),
      (2L, SessState(List(SessAcc(us(0), us(5), 3L))))).toDS()
    val stream = MemoryStream[SessEvent]
    val sessions = TwsSessions.gapSessionsTwsBootstrapped(
      stream.toDS().withWatermark("ts", "600 minutes"), gapUs, seed)
    TwsSessions.withRocksDb(spark) {
      val q = sessions.writeStream.format("memory").queryName("sess_boot_spec")
        .outputMode("append").start()
      try {
        // u1@125 lands within gap of the open seed session (15 < 30):
        // the weld must produce ONE session [100,125]×3, not a split;
        // u3@0 is a stream-only user; u99@900 pushes the watermark
        stream.addData(ev(1, 1, 125), ev(3, 2, 0), ev(99, 3, 900))
        q.processAllAvailable()
        val out = spark.table("sess_boot_spec").as[SessionOut].collect().toSeq
          .map(s => (s.user_id, s.session_start_us, s.session_last_us, s.n_events))
          .toSet
        assert(out === Set(
          (1L, us(0), us(10), 2L),   // closed seed session emits as-is
          (1L, us(100), us(125), 3L), // boundary weld: seed 2 + stream 1
          (2L, us(0), us(5), 3L),     // seed-only user drains on timer
          (3L, us(0), us(0), 1L)),    // stream-only user
          s"unexpected bootstrap session set: $out")
      } finally q.stop()
    }
  }

  test("TWS and fMGWS sessionizations agree on a replayed event table") {
    // the two custom-state implementations, one AvailableNow replay
    // each, must produce identical session sets over real data
    def run(tws: Boolean): Set[(Long, Long, Long, Long)] = {
      val events = graft.sources.Tables.eventsStream(spark, sf)
        .unionByName(graft.queries.CoverageQueries.sentinelStream(spark))
        .select(org.apache.spark.sql.functions.col("user_id"),
          org.apache.spark.sql.functions.col("event_id"),
          org.apache.spark.sql.functions.col("ts"),
          org.apache.spark.sql.functions.unix_micros(
            org.apache.spark.sql.functions.col("ts")).as("ts_us"))
        .withWatermark("ts", "1 hour")
        .as[SessEvent]
      val gapUs = 30L * 60L * 1000000L
      val out =
        if (tws) TwsSessions.gapSessionsTws(events, gapUs)
        else graft.streaming.StreamingPipeline.gapSessions(events, gapUs)
      val name = s"tws_agree_${if (tws) "t" else "f"}"
      val start = () => {
        val q = out.writeStream.format("memory").queryName(name)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      if (tws) TwsSessions.withRocksDb(spark)(start()) else start()
      spark.table(name).as[SessionOut].collect()
        .filter(_.user_id >= 0)
        .map(s => (s.user_id, s.session_start_us, s.session_last_us, s.n_events))
        .toSet
    }
    val a = run(tws = true)
    val b = run(tws = false)
    assert(a.nonEmpty && a === b,
      s"TWS and fMGWS session sets diverge: ${a.diff(b)} vs ${b.diff(a)}")
  }

  test("session_tws_streamed deletes no timer twice; rows equal the fMGWS twin's") {
    import org.apache.logging.log4j.Level
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    // Spark deletes an expired timer itself after handleExpiredTimer; a
    // processor that deletes it too makes that delete miss, and
    // TimerStateImpl logs "Failed to delete timer ... does not exist"
    val misses = new java.util.concurrent.atomic.AtomicInteger(0)
    val appender = new AbstractAppender("tws-timer-warns", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.WARN && e.getLoggerName.endsWith(".TimerStateImpl"))
          misses.incrementAndGet(): Unit
    }
    appender.start()
    val ctx = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(appender, Level.WARN, null)
    ctx.updateLoggers()
    val tws =
      try graft.queries.TemporalQueries.sessionTwsStreamed(spark, sf).collect().toSeq
      finally {
        root.removeAppender(appender.getName)
        ctx.updateLoggers()
        appender.stop()
      }
    assert(misses.get() === 0, s"${misses.get()} TimerStateImpl WARNs")
    val fmgs = graft.queries.TemporalQueries.sessionFmgsStreamed(spark, sf).collect().toSeq
    assert(tws.nonEmpty && tws === fmgs)
  }
}
