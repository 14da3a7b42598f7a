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
    val out = suiteTempDir("graft_sink")
    val ckpt = suiteTempDir("graft_ckpt")
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

  test("watermarked tumbling window matches batch aggregation") {
    val stream = MemoryStream[Ev]
    val data = Seq(ev(1, "a", 1.0), ev(5, "a", 2.0), ev(61, "a", 4.0), ev(62, "b", 8.0))
    stream.addData(data: _*)
    val agg = stream.toDF().withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"), sum($"value").as("sum_value"))
    val q = agg.writeStream.format("memory").queryName("win_out")
      .outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("win_out")
      .select("w.start", "event_type", "n", "sum_value")
      .as[(Timestamp, String, Long, Double)].collect().toSet
    val h0 = Timestamp.from(Instant.parse("2024-01-01T00:00:00Z"))
    val h1 = Timestamp.from(Instant.parse("2024-01-01T01:00:00Z"))
    assert(got === Set((h0, "a", 2L, 3.0), (h1, "a", 1L, 4.0), (h1, "b", 1L, 8.0)))
  }

  test("sliding windows assign events to every overlapping window") {
    val stream = MemoryStream[Ev]
    stream.addData(ev(10, "a", 1.0)) // 00:10 → windows [23:20-00:20]...[00:00-01:00] at 20m slide
    val agg = stream.toDF().withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "1 hour", "20 minutes"), $"event_type").count()
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
    val agg = stream.toDF().withWatermark("ts", "10 minutes")
      .groupBy(session_window($"ts", "30 minutes"), $"user_id").count()
    val q = agg.writeStream.format("memory").queryName("sess_out")
      .outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("sess_out").select("user_id", "count")
      .as[(Long, Long)].collect().sorted
    assert(got === Array((1L, 1L), (1L, 3L)))
  }

  test("late data beyond the watermark horizon is dropped (ST3)") {
    val stream = MemoryStream[Ev]
    val agg = stream.toDF().withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "1 hour"), $"event_type").count()
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
    val agg = stream.toDF().withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "1 hour"), $"event_type").count()
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
    val dd = stream.toDF().withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark("user_id")
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
    val out = suiteTempDir("graft_sized")
    val ckpt = suiteTempDir("graft_sized_ckpt")
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
    val ckpt2 = suiteTempDir("graft_sized_ckpt2")
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
    val log = suiteTempDir("graft_sized_log")
    val mOut = suiteTempDir("graft_sized_mp")
    val mCkpt = suiteTempDir("graft_sized_mp_ckpt")
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

    // a fresh checkpoint over a dead run's root: batch=9/ lies above the
    // new run's batch 0 and goes; the non-numeric batch=x/ stays
    val root = suiteTempDir("graft_sized_sweep")
    val rootCkpt = suiteTempDir("graft_sized_sweep_ckpt")
    Seq(ev(90, "a", 90.0)).toDF().write.json(s"$root/batch=9")
    Seq(ev(91, "a", 91.0)).toDF().write.json(s"$root/batch=x")
    val stream3 = MemoryStream[Ev]
    stream3.addData(ev(1, "a", 1.0))
    val q3 = StreamingPipeline.jsonSinkSizedObjects(
      stream3.toDF(), root, rootCkpt, recordsPerObject = 25).start()
    q3.processAllAvailable(); q3.stop()
    assert(new java.io.File(root).listFiles().filter(_.isDirectory)
      .map(_.getName).sorted.toSeq === Seq("batch=0", "batch=x"))
    assert(spark.read.json(root).select($"value").as[Double].collect()
      .sorted.toSeq === Seq(1.0, 91.0))
  }

  test("flush.size analog rejects a non-positive recordsPerObject") {
    val stream = MemoryStream[Ev]
    for (bad <- Seq(0, -1)) {
      val e = intercept[IllegalArgumentException](StreamingPipeline.jsonSinkSizedObjects(
        stream.toDF(), "unused", "unused", recordsPerObject = bad))
      assert(e.getMessage.contains("recordsPerObject"))
    }
  }

  test("wall-clock processed_ts in a stream is the micro-batch timestamp in UTC (T8)") {
    import graft.sources.KafkaReplay
    val log = suiteTempDir("graft_t8_log")
    KafkaReplay.append(log, (0 until 12).map(i => KafkaReplay.Record(i % 2,
      s"id_$i".getBytes, userJson(i, s"User$i").getBytes, 1704067200000000L)))
    val iso = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").withZone(java.time.ZoneOffset.UTC)
    val batchTimestampMs = "\"batchTimestampMs\":(\\d+)".r
    // the session zone only changes how the instant is rendered on the
    // way to the 'Z' literal; the stream copies it at start()
    for (zone <- Seq("UTC", "America/Los_Angeles")) {
      val out = suiteTempDir("graft_t8_out")
      val ckpt = suiteTempDir("graft_t8_ckpt")
      spark.conf.set("spark.sql.session.timeZone", zone)
      try {
        val users = StreamingPipeline.replayStream(spark, log, maxOffsetsPerTrigger = Some(4L))
          .withColumn("value", $"value".cast("string"))
        val q = StreamingPipeline.jsonSinkSizedObjects(
          StreamingPipeline.transformed(StreamingPipeline.enforceSchema(users, userSchema),
            ProfileTransform()),
          out, ckpt, recordsPerObject = 100).start()
        q.awaitTermination()
      } finally spark.conf.set("spark.sql.session.timeZone", "UTC")
      // maxOffsetsPerTrigger is a hard cap: at least 3 batches
      val ids = new java.io.File(out).list().map(_.stripPrefix("batch=").toLong).sorted
      assert(ids.length >= 3, s"$zone: batches ${ids.toSeq}")
      val rows = ids.map { id =>
        val stamps = spark.read.schema("processed_ts string").json(s"$out/batch=$id")
          .as[String].collect()
        val offsets = Files.readString(java.nio.file.Paths.get(ckpt, "offsets", id.toString))
        val ms = batchTimestampMs.findFirstMatchIn(offsets).get.group(1).toLong
        assert(stamps.toSet === Set(iso.format(Instant.ofEpochMilli(ms))),
          s"$zone batch $id: ${stamps.toSeq} vs batchTimestampMs $ms")
        stamps.length
      }
      assert(rows.sum === 12, s"$zone: rows per batch ${rows.toSeq}")
    }
  }

  test("a current_timestamp() filter stays above a streaming aggregate") {
    // the row's window ends in the future: batch 0 keeps it in state but
    // filters it from the output; once the wall clock passes the window
    // end, a later batch must emit it. A filter pushed below the state
    // (a folded batch timestamp is pushable) would drop the row for good.
    val future = Instant.now().plusSeconds(5)
    val stream = MemoryStream[Ev]
    val closed = stream.toDF().groupBy(window($"ts", "1 second")).count()
      .where($"window.end" < current_timestamp())
    val q = closed.writeStream.format("memory").queryName("closed_windows_spec")
      .outputMode("complete").start()
    try {
      stream.addData(Ev(Timestamp.from(future), "a", 1.0, 1L))
      q.processAllAvailable()
      assert(spark.table("closed_windows_spec").count() === 0L)
      val plan = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.optimizedPlan
      assert(plan.exists {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          f.child.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Aggregate])
        case _ => false
      }, plan.treeString)
      while (Instant.now().isBefore(future.plusSeconds(2))) Thread.sleep(200)
      stream.addData(ev(0, "b", 2.0))
      q.processAllAvailable()
      val out = spark.table("closed_windows_spec")
        .select($"window.start".cast("long"), $"count").as[(Long, Long)].collect().toMap
      assert(out.get(future.getEpochSecond) === Some(1L), out)
      assert(out.size === 2, out)
    } finally q.stop()
  }

  test("checkpointed sink is exactly-once across restarts (ST1)") {
    val out = suiteTempDir("graft_eo")
    val ckpt = suiteTempDir("graft_eo_ckpt")
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

  test("tombstone passthrough keeps null-value records alongside live ones (T1)") {
    val enforced = StreamingPipeline.enforceSchema(golden.toDF(), userSchema)
    val flat = enforced.select(col("key"), col("partition"), col("v.*"), col("v"))
    val out = graft.ops.ProfileTransform.withTombstones(flat, "v", t)
    assert(out.count() === 4) // 3 live + 1 tombstone (id_2 filtered)
    assert(out.filter(col("v").isNull).count() === 1)
  }
}
