package graft

import java.nio.file.Files
import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.ProfileTransform
import graft.streaming.StreamingPipeline

case class KRecord(key: String, value: String, topic: String,
    partition: Int, offset: Long, timestamp: Timestamp)

case class Ev(ts: Timestamp, event_type: String, value: Double, user_id: Long)

/** Streaming parity (SURVEY.md §2.9): the reference pipeline as a
  * Structured Streaming job over Kafka-shaped records, checked for
  * batch-stream equivalence with Trigger.AvailableNow, plus the ST3/ST4
  * gap operators (watermark windows, sessionization, bounded-state
  * dedup).
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val addressType = StructType(Seq(
    StructField("street", StringType), StructField("city", StringType),
    StructField("zip_code", StringType)))
  private val userSchema = StructType(Seq(
    StructField("user_id", StringType), StructField("first_name", StringType),
    StructField("last_name", StringType), StructField("email", StringType),
    StructField("age", IntegerType), StructField("raw_password_hash", StringType),
    StructField("internal_tracking_code", StringType),
    StructField("address", addressType)))

  private def userJson(i: Int, first: String): String =
    s"""{"user_id":"id_$i","first_name":"$first","last_name":"Doe$i",
       |"email":"user$i@example.com","age":${20 + i},
       |"raw_password_hash":"secret123","internal_tracking_code":"TRACK_XYZ",
       |"address":{"street":"$i St","city":"City","zip_code":"00000"}}""".stripMargin.replaceAll("\n", "")

  private def golden: Seq[KRecord] = (0 to 3).map { i =>
    KRecord(s"id_$i", userJson(i, if (i == 2) "" else s"User$i"), "users", i % 2,
      i.toLong, Timestamp.from(Instant.parse("2024-01-01T00:00:00Z")))
  } :+ KRecord("id_9", null, "users", 0, 4L,
    Timestamp.from(Instant.parse("2024-01-01T00:00:00Z"))) // tombstone (T1)

  private val clock = Instant.parse("2024-01-01T00:00:00Z")
  private val t = ProfileTransform(clock = Some(clock))

  test("stream == batch: full pipeline through MemoryStream + AvailableNow") {
    val stream = MemoryStream[KRecord]
    stream.addData(golden: _*)
    val transformed = StreamingPipeline.transformed(
      StreamingPipeline.enforceSchema(stream.toDF(), userSchema), t)
    val q = transformed.writeStream.format("memory").queryName("pipe_out")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("pipe_out").drop("offset").collect().toSet

    val batchDf = StreamingPipeline.transformed(
      StreamingPipeline.enforceSchema(golden.toDF(), userSchema), t)
    val batch = batchDf.drop("offset").collect().toSet
    assert(streamed === batch)
    assert(streamed.size === 3) // id_2 filtered, tombstone value-less dropped from live path
    assert(streamed.forall(_.getAs[String]("email") == "redacted@email.com"))
  }

  test("partitioned JSON sink reproduces the partition=<p>/ object layout") {
    val out = Files.createTempDirectory("graft_sink").toString
    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    val stream = MemoryStream[KRecord]
    stream.addData(golden: _*)
    val transformed = StreamingPipeline.transformed(
      StreamingPipeline.enforceSchema(stream.toDF(), userSchema), t)
    val q = StreamingPipeline.jsonSink(transformed, out, ckpt).start()
    q.processAllAvailable(); q.stop()

    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(dirs.exists(_.startsWith("partition=")), s"layout was: $dirs")
    val back = spark.read.json(out)
    assert(back.count() === 3)
    assert(!back.columns.contains("raw_password_hash"))
    assert(back.select("full_name").as[String].collect().toSet ===
      Set("User0 Doe0", "User1 Doe1", "User3 Doe3"))
  }

  private def ev(minute: Int, typ: String, v: Double, u: Long = 1L): Ev =
    Ev(Timestamp.from(Instant.parse("2024-01-01T00:00:00Z").plusSeconds(minute * 60L)), typ, v, u)

  test("streaming SCD2 closes intervals across micro-batches; settled rows = batch history") {
    import graft.streaming.{Scd2Out, VersionEvent}
    def t(m: Int) = Timestamp.from(Instant.parse("2024-01-01T00:00:00Z").plusSeconds(m * 60L))
    val stream = MemoryStream[VersionEvent]
    val q = StreamingPipeline.streamingScd2(stream.toDS())
      .writeStream.format("memory").queryName("scd2_out")
      .outputMode("append").start()
    stream.addData(VersionEvent(1L, 10L, t(0), 1.0),
      VersionEvent(1L, 11L, t(5), 2.0), VersionEvent(2L, 20L, t(1), 9.0))
    q.processAllAvailable()
    stream.addData(VersionEvent(1L, 12L, t(9), 3.0))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("scd2_out").as[Scd2Out].collect()
    // CDC convention: a (user,event) appears at most twice — open then
    // closed; the closed emission settles it
    val settled = rows.groupBy(r => (r.user_id, r.event_id))
      .map { case (_, v) => v.find(_.valid_to.isDefined).getOrElse(v.head) }
      .toSeq.sortBy(r => (r.user_id, r.event_id))
    assert(settled === Seq(
      Scd2Out(1L, 10L, t(0), Some(t(5)), 1.0, is_current = false),
      Scd2Out(1L, 11L, t(5), Some(t(9)), 2.0, is_current = false),
      Scd2Out(1L, 12L, t(9), None, 3.0, is_current = true),
      Scd2Out(2L, 20L, t(1), None, 9.0, is_current = true)))
  }

  test("streaming SCD2 drops a stale cross-batch update instead of minting an inverted interval") {
    import graft.streaming.{Scd2Out, VersionEvent}
    def t(m: Int) = Timestamp.from(Instant.parse("2024-01-01T00:00:00Z").plusSeconds(m * 60L))
    val stream = MemoryStream[VersionEvent]
    val q = StreamingPipeline.streamingScd2(stream.toDS())
      .writeStream.format("memory").queryName("scd2_late_out")
      .outputMode("append").start()
    stream.addData(VersionEvent(1L, 10L, t(60), 1.0)) // open interval from 01:00
    q.processAllAvailable()
    // a LATE event (00:00, earlier batch missed it) arrives in batch 2:
    // pre-r13 it closed the open interval with valid_to=00:00 <
    // valid_from=01:00 — corrupt history no batch run would emit
    stream.addData(VersionEvent(1L, 9L, t(0), 0.5))
    q.processAllAvailable()
    stream.addData(VersionEvent(1L, 11L, t(120), 2.0)) // normal successor
    q.processAllAvailable(); q.stop()
    val rows = spark.table("scd2_late_out").as[Scd2Out].collect()
    // every emitted interval is well-formed
    rows.foreach(r => r.valid_to.foreach(to =>
      assert(!to.before(r.valid_from), s"inverted interval: $r")))
    // the stale event contributed nothing; the real history stands
    assert(!rows.exists(_.event_id == 9L), s"stale update folded: ${rows.toSeq}")
    val settled = rows.groupBy(_.event_id)
      .map { case (_, v) => v.find(_.valid_to.isDefined).getOrElse(v.head) }
      .toSeq.sortBy(_.event_id)
    assert(settled === Seq(
      Scd2Out(1L, 10L, t(60), Some(t(120)), 1.0, is_current = false),
      Scd2Out(1L, 11L, t(120), None, 2.0, is_current = true)))
  }

  test("ST4 dropDuplicatesWithinWatermark: dups suppressed, late rows dropped, state store planned") {
    // Two-batch event-time scenario for the dedup_late_streamed
    // operator: batch 1 advances the watermark to 11:00 (max 12:00 −
    // 1h delay); batch 2 then carries (a) a BRAND-NEW key at 10:30 —
    // behind the watermark, dropped as late data, (b) a duplicate of
    // an in-state key within its watermark horizon — suppressed by the
    // state store, (c) a fresh in-time key — emitted.
    def t(s: String) = Timestamp.from(Instant.parse(s))
    val stream = MemoryStream[Ev]
    val deduped = stream.toDF()
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type"))
    val q = deduped.writeStream.format("memory").queryName("dedup_late_spec")
      .outputMode("append").start()
    stream.addData(
      Ev(t("2024-01-01T10:00:00Z"), "a", 1.0, 1L),
      Ev(t("2024-01-01T12:00:00Z"), "b", 1.0, 2L))
    q.processAllAvailable()
    stream.addData(
      Ev(t("2024-01-01T10:30:00Z"), "c", 1.0, 3L), // late: < watermark 11:00
      Ev(t("2024-01-01T12:30:00Z"), "b", 9.0, 2L), // dup of live state key
      Ev(t("2024-01-01T12:30:00Z"), "d", 1.0, 4L)) // fresh, in time
    q.processAllAvailable()
    // the executed micro-batch plan must carry the state-store dedup
    // operator (q.explain prints the last execution's plan)
    val planOut = new java.io.ByteArrayOutputStream
    Console.withOut(new java.io.PrintStream(planOut)) { q.explain() }
    q.stop()
    val out = spark.table("dedup_late_spec")
      .as[(Long, String)].collect().toSet
    assert(out === Set((1L, "a"), (2L, "b"), (4L, "d")),
      "late row must drop, in-watermark duplicate must dedup")
    assert(planOut.toString.contains("StreamingDeduplicateWithinWatermark"),
      s"expected a state-store dedup operator in:\n$planOut")
  }

  test("ST4 flatMapGroupsWithState sessionization: cross-batch merge, bridge, late-drop, state store") {
    import graft.streaming.{SessEvent, SessionOut}
    val gapUs = 30L * 60L * 1000000L
    // base offset: the engine's late filter is `ts <= watermark`, and
    // the initial watermark is 0 — an event at exactly epoch 0 would
    // sit ON the boundary and be dropped before the function runs
    val baseMin = 1440L
    def ev(uid: Long, eid: Long, min: Long): SessEvent = {
      val us = (baseMin + min) * 60L * 1000000L
      SessEvent(uid, eid, new Timestamp(us / 1000L), us)
    }
    def startMin(s: SessionOut): Long = s.session_start_us / 60000000L - baseMin
    def lastMin(s: SessionOut): Long = s.session_last_us / 60000000L - baseMin
    val stream = MemoryStream[SessEvent]
    // delay longer than the fixture's span so batch 1 leaves the
    // watermark at 0 — only the batch-2 pusher row advances it
    val sessions = StreamingPipeline.gapSessions(
      stream.toDS().withWatermark("ts", "600 minutes"), gapUs)
    val q = sessions.writeStream.format("memory").queryName("sess_fmgs_spec")
      .outputMode("append").start()
    def rows(): Seq[SessionOut] =
      spark.table("sess_fmgs_spec").as[SessionOut].collect().toSeq
    // batch 1: u1 opens a session (0,10); u2 a singleton; u3 TWO
    // sessions 50 min apart (stay separate: 50 >= 30)
    stream.addData(ev(1, 1, 0), ev(1, 2, 10), ev(2, 3, 0),
      ev(3, 7, 100), ev(3, 8, 150))
    q.processAllAvailable() // watermark stays 0 (150 - 600 < 0)
    // batch 2: u1@20 extends the b1 session ACROSS the batch boundary;
    // u1@120 opens a second session; u3@125 BRIDGES the two b1
    // sessions (25 min to each side); u99@900 pushes the watermark to
    // 300 so every real session's event-time timeout fires
    stream.addData(ev(1, 4, 20), ev(1, 5, 120), ev(3, 9, 125), ev(99, 6, 900))
    q.processAllAvailable()
    val planOut = new java.io.ByteArrayOutputStream
    Console.withOut(new java.io.PrintStream(planOut)) { q.explain() }
    val afterB2 = rows()
    // u1: [0,20]×3 (cross-batch merge) and [120,120]×1; u2: [0,0]×1;
    // u3: ONE bridged session [100,150]×3; u99 still open (930 > 300)
    assert(afterB2.map(s => (s.user_id, startMin(s), lastMin(s), s.n_events)).toSet ===
      Set((1L, 0L, 20L, 3L), (1L, 120L, 120L, 1L), (2L, 0L, 0L, 1L),
        (3L, 100L, 150L, 3L)),
      s"unexpected session set: $afterB2")
    // bounded state: every closable session drained on timeout, so
    // only u99's open session (one key) may remain in the store
    val stateRows = Option(q.lastProgress).toSeq
      .flatMap(_.stateOperators.toSeq).map(_.numRowsTotal).sum
    assert(stateRows <= 1, s"state should hold only u99's key, found $stateRows rows")
    // batch 3: a late u1 row far behind the watermark must be dropped,
    // never resurrecting a closed session or opening a stale one
    stream.addData(ev(1, 10, 5))
    q.processAllAvailable()
    q.stop()
    assert(rows().size === afterB2.size, "late row must not emit a session")
    assert(planOut.toString.contains("FlatMapGroupsWithState"),
      s"expected a FlatMapGroupsWithState state store in:\n$planOut")
  }

  test("ST4 session timer fires when the FINAL watermark lands exactly on the closable ms") {
    import graft.streaming.{SessEvent, SessionOut}
    // r14 boundary fix: the closable instant here is a WHOLE millisecond
    // and the last watermark the stream ever reaches lands EXACTLY on it
    // (pusher ts − delay = last + gap). A timer armed AT that ms fires
    // only on a watermark strictly beyond it — which never comes — so
    // the session was silently lost; arming one ms early drains it.
    val gapUs = 30L * 60L * 1000000L
    val baseMin = 1440L
    def ev(uid: Long, eid: Long, min: Long): SessEvent = {
      val us = (baseMin + min) * 60L * 1000000L
      SessEvent(uid, eid, new Timestamp(us / 1000L), us)
    }
    val stream = MemoryStream[SessEvent]
    val sessions = StreamingPipeline.gapSessions(
      stream.toDS().withWatermark("ts", "600 minutes"), gapUs)
    val q = sessions.writeStream.format("memory").queryName("sess_boundary_spec")
      .outputMode("append").start()
    stream.addData(ev(1, 1, 0))
    q.processAllAvailable() // watermark 0; u1 open, timer armed
    // watermark -> (630 - 600) min = EXACTLY u1's last + gap
    stream.addData(ev(99, 2, 630))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("sess_boundary_spec").as[SessionOut].collect().toSeq
    assert(out.exists(s => s.user_id == 1L && s.n_events == 1L),
      s"session closable exactly AT the final watermark was not emitted: $out")
  }

  test("ST4 streamed funnel: reorder-buffer fold, cross-batch match, settle, late-drop") {
    import graft.streaming.{FunnelEvent, FunnelOut}
    val baseMin = 1440L
    def ev(uid: Long, eid: Long, min: Long, tpe: String): FunnelEvent = {
      val us = (baseMin + min) * 60L * 1000000L
      FunnelEvent(uid, eid, new Timestamp(us / 1000L), us, tpe)
    }
    val windowUs = 48L * 60L * 60L * 1000000L
    val stream = MemoryStream[FunnelEvent]
    val out = StreamingPipeline.funnelMatch(
      stream.toDS().withWatermark("ts", "600 minutes"), windowUs)
    val q = out.toDF().writeStream.format("memory").queryName("funnel_spec")
      .outputMode("append").start()
    def settled(): Map[Long, (Long, Boolean)] =
      spark.table("funnel_spec").as[FunnelOut].collect()
        .groupBy(_.user_id).view
        .mapValues(rs => { val b = rs.maxBy(_.frontier_us); (b.n_events, b.matched) })
        .toMap
    // batch 1 arrives OUT of ts order inside the horizon: u1's view
    // (t=10) and purchase (t=20) precede its signup (t=0) in arrival
    // order — the reorder buffer must fold them as 0 < 10 < 20.
    // u2 signs up but its view lands outside the anchor's window later.
    stream.addData(ev(1, 3, 20, "purchase"), ev(1, 2, 10, "view"),
      ev(1, 1, 0, "signup"), ev(2, 4, 0, "signup"))
    q.processAllAvailable() // watermark still 0: nothing folds yet
    assert(settled().isEmpty, "no fold may happen before the watermark moves")
    // batch 2: u1's extra click; u2's view at 49h (outside 48h window);
    // the u99 pusher advances the watermark past every real event
    stream.addData(ev(1, 5, 30, "click"), ev(2, 6, 49L * 60, "view"),
      ev(99, 7, 5000, "signup"))
    q.processAllAvailable()
    // pusher watermark = 5000 - 600 = 4400 min > 49h=2940: all real
    // events folded. u1 matched with 4 lifetime events; u2 unmatched
    // (view outside window), 2 events
    assert(settled() === Map(1L -> ((4L, true)), 2L -> ((2L, false))),
      s"unexpected settle: ${settled()}")
    // batch 3: a late u1 event far behind the watermark must drop —
    // the count may not move
    stream.addData(ev(1, 8, 40, "click"))
    q.processAllAvailable()
    q.stop()
    assert(settled()(1L) === ((4L, true)), "late row must not refold")
  }

  test("incremental materialized aggregate: versioned folds, snapshot = global agg") {
    val stateDir = Files.createTempDirectory("graft_incr").toString
    val ckpt = Files.createTempDirectory("graft_incr_ck").toString
    val stream = MemoryStream[Ev]
    def run(): Unit = {
      val q = StreamingPipeline.incrementalTotals(stream.toDF(), "user_id", "value",
        stateDir, ckpt).start()
      q.awaitTermination()
    }
    stream.addData(ev(0, "a", 1.0, 1L), ev(1, "a", 2.0, 1L), ev(2, "b", 3.0, 2L))
    run()
    stream.addData(ev(3, "a", 4.0, 1L), ev(4, "c", 5.0, 3L))
    run()
    val dirs = new java.io.File(stateDir).listFiles().filter(_.isDirectory)
      .map(_.getName).sorted
    assert(dirs.toSeq === Seq("v=0", "v=1"))
    val snap = StreamingPipeline.currentTotals(spark, stateDir).get
      .orderBy("user_id").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Double]("total"),
        r.getAs[Long]("n_events")))
    assert(snap.toSeq === Seq((1L, 7.0, 3L), (2L, 3.0, 1L), (3L, 5.0, 1L)))
    // v=0 still holds the first snapshot untouched (version isolation)
    val v0 = spark.read.parquet(s"$stateDir/v=0")
      .orderBy("user_id").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Double]("total")))
    assert(v0.toSeq === Seq((1L, 3.0), (2L, 3.0)))
    // bounded version tail (r15): replay of batch B only ever reads
    // v=B-1, so older committed versions are swept — a continuous
    // deployment must not write one full snapshot per micro-batch forever
    stream.addData(ev(5, "a", 1.0, 1L)); run() // batch 2
    stream.addData(ev(6, "a", 1.0, 1L)); run() // batch 3
    stream.addData(ev(7, "a", 1.0, 1L)); run() // batch 4
    val dirs2 = new java.io.File(stateDir).listFiles().filter(_.isDirectory)
      .map(_.getName).sorted
    assert(dirs2.toSeq === Seq("v=2", "v=3", "v=4"),
      s"expected a bounded version tail, got ${dirs2.toSeq}")
    val snap2 = StreamingPipeline.currentTotals(spark, stateDir).get
      .orderBy("user_id").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Double]("total"),
        r.getAs[Long]("n_events")))
    assert(snap2.toSeq === Seq((1L, 10.0, 6L), (2L, 3.0, 1L), (3L, 5.0, 1L)),
      "the swept tail must not change the current snapshot")
    // a FOREIGN non-numeric v= dir (user artifact) must not wedge the
    // sink or the reader — toLongOption in every v= parse (r17 review):
    // the incarnation sweep, the retention sweep, and the version scan
    // all skip it rather than throw, and it is left untouched
    val foreign = new java.io.File(stateDir, "v=backup")
    assert(foreign.mkdir())
    stream.addData(ev(8, "a", 1.0, 1L)); run() // batch 5 commits fine
    val snap3 = StreamingPipeline.currentTotals(spark, stateDir).get
      .filter(col("user_id") === 1L).collect()
      .map(r => (r.getAs[Double]("total"), r.getAs[Long]("n_events")))
    assert(snap3.toSeq === Seq((11.0, 7L)))
    assert(foreign.isDirectory, "the foreign dir must be left alone")
  }

  test("watermarked tumbling window matches batch aggregation") {
    val stream = MemoryStream[Ev]
    val data = Seq(ev(1, "a", 1.0), ev(5, "a", 2.0), ev(61, "a", 4.0), ev(62, "b", 8.0))
    stream.addData(data: _*)
    val agg = StreamingPipeline.windowedCounts(stream.toDF(), "ts", "10 minutes", "1 hour")
    val q = agg.writeStream.format("memory").queryName("win_out")
      .outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("win_out")
      .select("window_start", "event_type", "n", "sum_value")
      .as[(Timestamp, String, Long, Double)].collect().toSet
    val h0 = Timestamp.from(Instant.parse("2024-01-01T00:00:00Z"))
    val h1 = Timestamp.from(Instant.parse("2024-01-01T01:00:00Z"))
    assert(got === Set((h0, "a", 2L, 3.0), (h1, "a", 1L, 4.0), (h1, "b", 1L, 8.0)))
  }

  test("sliding windows assign events to every overlapping window") {
    val stream = MemoryStream[Ev]
    stream.addData(ev(10, "a", 1.0)) // 00:10 → windows [23:20-00:20]...[00:00-01:00] at 20m slide
    val agg = StreamingPipeline.windowedCounts(stream.toDF(), "ts", "10 minutes",
      "1 hour", slide = Some("20 minutes"))
    val q = agg.writeStream.format("memory").queryName("slide_out")
      .outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    // a 1h window sliding every 20m covers each instant 3 times
    assert(spark.table("slide_out").count() === 3)
  }

  test("session windows merge events within the gap, split beyond it") {
    val stream = MemoryStream[Ev]
    // user 1: events at 0,10,20 (one session), then 60 (new session)
    stream.addData(ev(0, "a", 1.0), ev(10, "a", 1.0), ev(20, "a", 1.0), ev(60, "a", 1.0))
    val agg = StreamingPipeline.sessionCounts(stream.toDF(), "ts", "10 minutes", "30 minutes")
    val q = agg.writeStream.format("memory").queryName("sess_out")
      .outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("sess_out").select("user_id", "n_events")
      .as[(Long, Long)].collect().sorted
    assert(got === Array((1L, 1L), (1L, 3L)))
  }

  test("late data beyond the watermark horizon is dropped (ST3)") {
    val stream = MemoryStream[Ev]
    val agg = StreamingPipeline.windowedCounts(stream.toDF(), "ts", "10 minutes", "1 hour")
    val q = agg.writeStream.format("memory").queryName("late_out")
      .outputMode("append").start()
    // batch 1 advances the watermark to 03:00 - 10m = 02:50
    stream.addData(ev(1, "a", 1.0), ev(180, "a", 1.0))
    q.processAllAvailable()
    // batch 2: an hour-0 event is now far behind the watermark → dropped;
    // append mode then finalizes hour 0 without it ever arriving
    stream.addData(ev(2, "late", 99.0), ev(240, "a", 1.0))
    q.processAllAvailable()
    stream.addData(ev(400, "a", 1.0)) // push watermark past hour 4
    q.processAllAvailable(); q.stop()
    val emitted = spark.table("late_out")
      .select("event_type").as[String].collect().toSet
    assert(!emitted.contains("late"), s"late event leaked into: $emitted")
  }

  test("append-mode window state is evicted by the watermark (bounded state)") {
    val stream = MemoryStream[Ev]
    val agg = StreamingPipeline.windowedCounts(stream.toDF(), "ts", "10 minutes", "1 hour")
    val q = agg.writeStream.format("memory").queryName("evict_out")
      .outputMode("append").start()
    val stateSizes = scala.collection.mutable.ArrayBuffer[Long]()
    // one event per hour for 6 hours: each batch's watermark (h - 10m)
    // closes the previous hour's window, so state holds only the open
    // window(s) — NOT one row per window ever seen (the complete-mode
    // retention VERDICT r2 flagged)
    for (h <- 0 until 6) {
      stream.addData(ev(h * 60, "a", 1.0))
      q.processAllAvailable()
      val p = q.lastProgress
      if (p != null && p.stateOperators.nonEmpty)
        stateSizes += p.stateOperators.head.numRowsTotal
    }
    q.stop()
    assert(stateSizes.nonEmpty)
    assert(stateSizes.max <= 2,
      s"state grew instead of being watermark-evicted: $stateSizes")
    // final watermark 4:50 closed windows [0,1)..[3,4); [4,5) and [5,6)
    // stay pending — emitted == closed, not == seen
    assert(spark.table("evict_out").count() === 4)
  }

  test("dropDuplicatesWithinWatermark removes in-horizon duplicates") {
    val stream = MemoryStream[Ev]
    stream.addData(ev(1, "dup", 1.0, 7L), ev(2, "dup", 2.0, 7L), ev(3, "uniq", 3.0, 8L))
    val dd = StreamingPipeline.dedupWithinWatermark(stream.toDF(), Seq("user_id"), "ts", "1 hour")
    val q = dd.writeStream.format("memory").queryName("dd_out")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    assert(spark.table("dd_out").select("user_id").as[Long].collect().sorted === Array(7L, 8L))
  }

  test("stream-stream interval join matches pairs within the horizon only") {
    val purchases = MemoryStream[Ev]
    val signups = MemoryStream[Ev]
    purchases.addData(ev(40, "purchase", 1.0, 1L), ev(200, "purchase", 2.0, 1L),
      ev(50, "purchase", 3.0, 2L))
    signups.addData(ev(10, "signup", 0.0, 1L), ev(45, "signup", 0.0, 2L))
    val joined = StreamingPipeline.streamIntervalJoin(
      purchases.toDF().select($"ts".as("p_ts"), $"user_id", $"value"),
      signups.toDF().select($"ts".as("s_ts"), $"user_id"),
      key = "user_id", leftTs = "p_ts", rightTs = "s_ts",
      delay = "10 minutes", horizon = "1 HOUR")
    val q = joined.writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("ssj_out").select("value").as[Double].collect().sorted
    // purchase@40 matches signup@10 (30m gap); purchase@200 does not (190m);
    // user 2's purchase@50 matches signup@45
    assert(got === Array(1.0, 3.0))
  }

  test("stream-static join enriches streaming events with a static dim") {
    val stream = MemoryStream[Ev]
    stream.addData(ev(1, "a", 1.0, 1L), ev(2, "b", 2.0, 99999L))
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val joined = stream.toDF().join(dim, Seq("user_id"), "left_outer")
    val q = joined.writeStream.format("memory").queryName("ssj2_out")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("ssj2_out").select("user_id", "tier")
      .as[(Long, Option[String])].collect().toMap
    assert(got(1L) === Some("gold"))
    assert(got(99999L) === None)
  }

  test("flush.size analog: foreachBatch sizes JSON objects to ~N records") {
    val out = Files.createTempDirectory("graft_sized").toString
    val ckpt = Files.createTempDirectory("graft_sized_ckpt").toString
    val stream = MemoryStream[Ev]
    stream.addData((1 to 100).map(i => ev(i, "a", i.toDouble)): _*)
    val q = StreamingPipeline.jsonSinkSizedObjects(
      stream.toDF(), out, ckpt, recordsPerObject = 25).start()
    q.processAllAvailable(); q.stop()
    // r13: each batch owns a batch=<id>/ subdirectory (idempotent
    // overwrite — the exactly-once delivery pattern); objects live there
    def jsonFiles() = Option(new java.io.File(out).listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory)
      .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty))
      .filter(f => f.getName.endsWith(".json") && f.length() > 0)
    assert(jsonFiles().length === 4,
      s"expected 4 objects of ~25 records, got ${jsonFiles().length}")
    assert(spark.read.json(out).count() === 100)
    // replay idempotence: re-running the same committed batch (fresh
    // checkpoint, same data, same batch id) rewrites batch=0 wholesale
    // instead of appending a duplicate copy — the pre-r13 bare append
    // double-counted exactly here
    val ckpt2 = Files.createTempDirectory("graft_sized_ckpt2").toString
    val stream2 = MemoryStream[Ev]
    stream2.addData((1 to 100).map(i => ev(i, "a", i.toDouble)): _*)
    val q2 = StreamingPipeline.jsonSinkSizedObjects(
      stream2.toDF(), out, ckpt2, recordsPerObject = 25).start()
    q2.processAllAvailable(); q2.stop()
    assert(spark.read.json(out).count() === 100,
      "a replayed batch must overwrite its own directory, not append")

    // multi-partition case: like Connect's per-topic-partition writer,
    // each Kafka partition of a batch becomes its own series of objects
    // of at most N records, never a mix of partitions
    import graft.sources.KafkaReplay
    val log = Files.createTempDirectory("graft_sized_log").toString
    val mOut = Files.createTempDirectory("graft_sized_mp").toString
    val mCkpt = Files.createTempDirectory("graft_sized_mp_ckpt").toString
    val perPart = Seq(0 -> 23, 1 -> 50, 2 -> 7, 3 -> 40)
    val n = 10
    def append(prefix: String, sizes: Seq[(Int, Int)]): Unit =
      KafkaReplay.append(log, sizes.flatMap { case (p, k) =>
        (0 until k).map(i => KafkaReplay.Record(p, s"k$p-$i".getBytes,
          s"$prefix-$p-$i".getBytes, 1704067200000000L))
      })
    def drain(): Unit = {
      val kept = StreamingPipeline.replayStream(spark, log)
        .select($"key", $"value".cast("string").as("value"), $"partition", $"offset")
        .filter($"value".startsWith("keep"))
      val q = StreamingPipeline.jsonSinkSizedObjects(kept, mOut, mCkpt, n).start()
      q.processAllAvailable(); q.stop()
    }
    append("keep", perPart)
    drain() // batch 0
    append("drop", perPart.map { case (p, _) => p -> 5 })
    drain() // batch 1: every row filtered out
    val expectedRows = perPart.flatMap { case (p, k) => (0 until k).map(i => (p, i.toLong)) }
    def checkLayout(): Unit = {
      val filteredBatch = Option(new java.io.File(mOut, "batch=1").listFiles())
        .getOrElse(Array.empty).filter(f => f.getName.endsWith(".json") && f.length() > 0)
      assert(filteredBatch.isEmpty,
        s"an all-filtered batch must leave no non-empty object: ${filteredBatch.toSeq}")
      val sunk = spark.read.schema("partition int, offset long").json(mOut)
      val objects = sunk.groupBy(input_file_name().as("f"))
        .agg(count(lit(1)).as("rows"), countDistinct($"partition").as("parts"))
        .as[(String, Long, Long)].collect()
      assert(objects.forall(_._2 <= n), s"an object holds more than $n records: ${objects.toSeq}")
      assert(objects.forall(_._3 === 1L), s"an object mixes Kafka partitions: ${objects.toSeq}")
      assert(objects.length === perPart.map { case (_, k) => (k + n - 1) / n }.sum)
      val rows = sunk.select($"partition", $"offset").as[(Int, Long)].collect().toSeq
      assert(rows.sorted === expectedRows.sorted, "every input row exactly once")
    }
    checkLayout()
    // replay batch 0 under its own id, as after a crash before its
    // commit: drop the commit log and batch 1's offsets, then restart
    for (f <- Seq("commits/0", "commits/1", "offsets/1")) {
      assert(new java.io.File(mCkpt, f).delete(), s"no $f in the checkpoint")
      new java.io.File(mCkpt, f.replaceFirst("/", "/.") + ".crc").delete()
    }
    drain()
    checkLayout()
  }

  test("flush.size analog rejects a non-positive recordsPerObject") {
    val stream = MemoryStream[Ev]
    for (bad <- Seq(0, -1)) {
      val e = intercept[IllegalArgumentException](StreamingPipeline.jsonSinkSizedObjects(
        stream.toDF(), "unused", "unused", recordsPerObject = bad))
      assert(e.getMessage.contains("recordsPerObject"))
    }
  }

  test("checkpointed sink is exactly-once across restarts (ST1)") {
    val out = Files.createTempDirectory("graft_eo").toString
    val ckpt = Files.createTempDirectory("graft_eo_ckpt").toString
    val stream = MemoryStream[Ev]
    stream.addData(ev(1, "a", 1.0), ev(2, "b", 2.0))
    val mk = () => StreamingPipeline.jsonSink(
      stream.toDF().withColumn("partition", lit(0)), out, ckpt).start()
    val q1 = mk(); q1.processAllAvailable(); q1.stop()
    assert(spark.read.json(out).count() === 2)
    // restart on the same checkpoint with no new data: nothing re-emitted
    val q2 = mk(); q2.processAllAvailable(); q2.stop()
    assert(spark.read.json(out).count() === 2)
    // new data after restart flows exactly once
    stream.addData(ev(3, "c", 3.0))
    val q3 = mk(); q3.processAllAvailable(); q3.stop()
    assert(spark.read.json(out).count() === 3)
  }

  test("flatMapGroupsWithState carries per-user totals across micro-batches") {
    import graft.streaming.{UserEvent, UserTotal}
    val stream = MemoryStream[UserEvent]
    val totals = StreamingPipeline.runningUserTotals(stream.toDS())
    val q = totals.writeStream.format("memory").queryName("state_out")
      .outputMode("append").start()
    stream.addData(UserEvent(1L, 1.0), UserEvent(1L, 2.0), UserEvent(2L, 5.0))
    q.processAllAvailable()
    stream.addData(UserEvent(1L, 4.0)) // second batch: state must carry over
    q.processAllAvailable(); q.stop()
    val byUser = spark.table("state_out").as[UserTotal].collect()
      .groupBy(_.user_id).map { case (k, vs) => k -> vs.maxBy(_.n_events) }
    assert(byUser(1L).n_events === 3L && byUser(1L).total_value === 7.0)
    assert(byUser(2L).n_events === 1L && byUser(2L).total_value === 5.0)
  }

  test("streaming LSH candidates match batch candidates across micro-batches") {
    import graft.functions.TextFunctions
    import graft.operators.Dedup
    val docs = graft.sources.Tables.documents(spark, sf)
      .select($"doc_id", $"text").limit(200).as[(Long, String)].collect()

    val stream = MemoryStream[(Long, String)]
    val q = StreamingPipeline.streamingLshCandidates(
        stream.toDF().toDF("doc_id", "text"), "doc_id", "text")
      .writeStream.format("memory").queryName("slsh_out")
      .outputMode("append").start()
    stream.addData(docs.take(100).toSeq: _*); q.processAllAvailable()
    stream.addData(docs.drop(100).toSeq: _*); q.processAllAvailable(); q.stop()
    val streamed = spark.table("slsh_out")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet

    val df = docs.toSeq.toDF("doc_id", "text")
    val withSig = df
      .select($"doc_id".as("id"), TextFunctions.shingles($"text", 3).as("sh"))
      .filter(size($"sh") > 0)
      .withColumn("sig", Dedup.minhashSignatureMd5($"sh", 16))
    val batch = Dedup.lshCandidates(withSig, "id", "sig",
        bands = 4, rowsPerBand = 4, useMd5 = true)
      .as[(Long, Long)].collect().toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty, "fixture produced no candidate pairs")
  }

  test("idle-timeout evicts per-user running totals (bounded keyed state)") {
    import graft.streaming.{UserEvent, UserTotal}
    // NOTE: with ProcessingTimeTimeout the engine keeps scheduling
    // timer-check batches, so the query is never "idle" and
    // processAllAvailable would block forever — poll the sink with a
    // deadline instead.
    def await(cond: () => Boolean, what: String, timeoutMs: Long = 60000): Unit = {
      val deadline = System.currentTimeMillis + timeoutMs
      while (!cond() && System.currentTimeMillis < deadline) Thread.sleep(100)
      assert(cond(), s"timed out waiting for $what")
    }
    def rows(): Seq[UserTotal] = spark.table("ttl_evict_out").as[UserTotal].collect().toSeq
    val stream = MemoryStream[UserEvent]
    val totals = StreamingPipeline.runningUserTotals(
      stream.toDS(), idleTimeout = Some("50 milliseconds"))
    val q = totals.writeStream.format("memory").queryName("ttl_evict_out")
      .outputMode("append").start()
    try {
      stream.addData(UserEvent(1L, 1.0), UserEvent(1L, 2.0))
      await(() => rows().exists(t => t.user_id == 1L && t.n_events == 2L), "u1 total")
      Thread.sleep(500) // let the timeout mature; timer batches fire it
      stream.addData(UserEvent(2L, 9.0))
      await(() => rows().exists(_.user_id == 2L), "u2 total")
      stream.addData(UserEvent(1L, 4.0)) // user 1 returns after eviction
      await(() => rows().exists(t => t.user_id == 1L && t.total_value == 4.0), "fresh u1")
    } finally q.stop()
    val u1 = rows().filter(_.user_id == 1L).map(t => (t.n_events, t.total_value)).toSet
    // first lifetime: (2, 3.0); fresh state after eviction: (1, 4.0) —
    // (3, 7.0) would mean state survived the timeout
    assert(u1 === Set((2L, 3.0), (1L, 4.0)), s"got $u1")
  }

  test("streaming LSH bucket state saturates at maxBucket (bounded state)") {
    val stream = MemoryStream[(Long, String)]
    val q = StreamingPipeline.streamingLshCandidates(
        stream.toDF().toDF("doc_id", "text"), "doc_id", "text", maxBucket = 5)
      .writeStream.format("memory").queryName("slsh_cap_out")
      .outputMode("append").start()
    // 20 identical docs -> one bucket per band; only the first 5 members
    // may emit, later arrivals find the bucket saturated
    stream.addData((1L to 20L).map(i => (i, "the same boilerplate text repeated verbatim every time")): _*)
    q.processAllAvailable(); q.stop()
    val pairs = spark.table("slsh_cap_out")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.size === 10, s"expected C(5,2)=10 distinct pairs, got ${pairs.size}")
    val ids = pairs.flatMap(p => Set(p._1, p._2))
    assert(ids.size <= 5, s"more than maxBucket ids emitted: $ids")
  }

  test("tombstone passthrough keeps null-value records alongside live ones (T1)") {
    val enforced = StreamingPipeline.enforceSchema(golden.toDF(), userSchema)
    val flat = enforced.select(col("key"), col("partition"), col("v.*"), col("v"))
    val out = graft.ops.ProfileTransform.withTombstones(flat, "v", t)
    assert(out.count() === 4) // 3 live + 1 tombstone (id_2 filtered)
    assert(out.filter(col("v").isNull).count() === 1)
  }
}
