package graft

import java.time.Instant

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.avro.AvroCodec
import graft.avro.functions._
import graft.ops.ProfileTransform
import graft.queries.AvroQueries
import graft.sources.KafkaReplay
import graft.streaming.StreamingPipeline

/** S2 closed as far as the sandbox allows: the `graft-kafka-replay`
  * DataSource-V2 source drives a real `MicroBatchStream` — offset
  * json/deserialize, admission control, planInputPartitions, checkpoint
  * commit, replay-from-earliest, exactly-once restart — over the
  * reference's Confluent-framed Avro wire payloads
  * (`/root/reference/producer/producer.py:40-66`,
  * `verifier_ui.py:36-76`).
  */
class KafkaReplaySpec extends SparkSpec {
  import spark.implicits._

  private val schema = AvroQueries.userSchemaJson
  private val sparkUserType = AvroCodec.sparkStructType(schema)
  private val tsMicros = Instant.parse("2024-01-01T00:00:00Z").toEpochMilli * 1000L

  private def userRow(i: Int, first: Option[String]): Row = Row(
    s"id_$i", first.orNull, s"Doe$i", s"user$i@example.com", 20 + i,
    "secret123", "TRACK_XYZ", Row(s"$i St", "City", "00000"))

  /** Confluent-framed wire bytes for user `i`, exactly what the
    * reference producer puts on the topic. */
  private def wireBytes(rows: Seq[Row]): Seq[Array[Byte]] =
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(Row(_)), 1),
        StructType(Seq(StructField("user", sparkUserType))))
      .select(to_avro_confluent(col("user"), schema, schemaId = 7).as("b"))
      .collect().map(_.getAs[Array[Byte]](0)).toSeq

  /** A topic fixture: n users across 2 partitions + one tombstone. */
  private def writeTopic(n: Int): String = {
    val dir = suiteTempDir("graft_replay")
    appendUsers(dir, 0 until n)
    KafkaReplay.append(dir, Seq(
      KafkaReplay.Record(0, "id_9".getBytes, null, tsMicros))) // tombstone (T1)
    dir
  }

  private def appendUsers(dir: String, ids: Seq[Int]): Unit = {
    val rows = ids.map(i => userRow(i, if (i == 2) Some("") else Some(s"User$i")))
    val bytes = wireBytes(rows)
    KafkaReplay.append(dir, ids.zip(bytes).map { case (i, b) =>
      KafkaReplay.Record(i % 2, s"id_$i".getBytes, b, tsMicros)
    })
  }

  /** A task spool in the sink's spool format (`[partition i32][ts i64]
    * [keyLen i32 = -1][valLen i32][value]` per record) under `dir`. */
  private def spool(dir: String, name: String,
      recs: Seq[(Int, Array[Byte])]): KafkaReplay.SpoolMsg = {
    val f = new java.io.File(dir, name); f.getParentFile.mkdirs()
    val out = new java.io.DataOutputStream(new java.io.FileOutputStream(f))
    recs.foreach { case (p, v) =>
      out.writeInt(p); out.writeLong(0L); out.writeInt(-1)
      out.writeInt(v.length); out.write(v)
    }
    out.close()
    KafkaReplay.SpoolMsg(f.getPath, 0)
  }

  test("batch read: Kafka-shaped rows, per-partition offset sequences, tombstone") {
    val dir = writeTopic(4)
    val df = spark.read.format(KafkaReplay.ShortName)
      .option("path", dir).option("topic", "users").load()
    assert(df.schema === KafkaReplay.schema)
    val rows = df.select($"partition", $"offset", $"topic",
        $"key".cast("string"), $"value".isNull)
      .as[(Int, Long, String, String, Boolean)].collect().sortBy(r => (r._1, r._2))
    // partition 0: users 0,2 then the tombstone at offset 2; partition 1: 1,3
    assert(rows.map(r => (r._1, r._2)).toSeq ===
      Seq((0, 0L), (0, 1L), (0, 2L), (1, 0L), (1, 1L)))
    assert(rows.forall(_._3 == "users"))
    assert(rows.filter(_._5).map(_._4).toSeq === Seq("id_9"))
  }

  test("batch bounded range: startingOffsets/endingOffsets JSON with Kafka sentinels") {
    val dir = writeTopic(10) // p0: ids 0,2,4,6,8 + tombstone (6 offsets); p1: 1,3,5,7,9
    def read(startSpec: String, endSpec: String) =
      spark.read.format(KafkaReplay.ShortName)
        .option("path", dir).option("topic", "users")
        .option("startingOffsets", startSpec).option("endingOffsets", endSpec)
        .load()
        .select($"partition", $"offset").as[(Int, Long)]
        .collect().sortBy(identity).toSeq
    // explicit window on p0, -2 (earliest) start and -1 (latest) end on p1
    assert(read("""{"0":2,"1":-2}""", """{"0":4,"1":-1}""") ===
      Seq((0, 2L), (0, 3L), (1, 0L), (1, 1L), (1, 2L), (1, 3L), (1, 4L)))
    // unlisted partitions: start defaults to earliest, end to latest
    assert(read("""{"0":5}""", """{"0":6}""").filter(_._1 == 0) === Seq((0, 5L)))
    assert(read("""{"0":5}""", """{"0":6}""").count(_._1 == 1) === 5)
    // ends past the log clamp to what exists
    assert(read("earliest", """{"0":999,"1":999}""").size === 11)
    // defaults stay the whole log (the existing O2 shape)
    assert(read("earliest", "latest").size === 11)
    // Kafka parity: 'latest' is not a legal batch start
    intercept[IllegalArgumentException] {
      KafkaReplay.resolveStartingOffsets("latest",
        scala.collection.immutable.SortedMap(0 -> 5L))
    }
  }

  test("streaming startingOffsets honored for a fresh query; endingOffsets rejected") {
    val dir = writeTopic(10) // p0: 6 offsets (incl. tombstone); p1: 5
    // a fresh stream with a JSON start position must skip the earlier
    // records (pre-r13: the option was silently dropped and everything
    // replayed from earliest)
    val got = {
      val q = spark.readStream.format(KafkaReplay.ShortName)
        .option("path", dir).option("topic", "users")
        .option("startingOffsets", """{"0":4,"1":-1}""")
        .load()
        .select($"partition", $"offset")
        .writeStream.format("memory").queryName("replay_start_spec")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.table("replay_start_spec").as[(Int, Long)].collect().sortBy(identity).toSeq
    }
    // p0 starts at 4 (offsets 4,5); p1 at latest (nothing)
    assert(got === Seq((0, 4L), (0, 5L)), s"start position ignored: $got")
    // endingOffsets is batch-only — a streaming read must fail loudly
    val ex = intercept[Exception] {
      val q = spark.readStream.format(KafkaReplay.ShortName)
        .option("path", dir).option("endingOffsets", """{"0":3}""")
        .load()
        .writeStream.format("memory").queryName("replay_end_spec")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    assert(ex.getMessage != null)
  }

  test("sink epoch ledger is query-scoped: two queries sharing a log dir never drop batches") {
    val dir = suiteTempDir("graft_replay_multiq")
    val wA = new KafkaReplay.ReplayStreamingWrite(dir, KafkaReplay.sinkSchema, "queryA")
    val wB = new KafkaReplay.ReplayStreamingWrite(dir, KafkaReplay.sinkSchema, "queryB")
    // both queries commit THEIR OWN epoch 0 — pre-r13 the bare epoch-id
    // ledger made B's commit a silent no-op
    wA.commit(0L, Array(spool(dir, ".epoch-0-task-a-0.spool", Seq((0, "a".getBytes)))))
    wB.commit(0L, Array(spool(dir, ".epoch-0-task-b-0.spool", Seq((0, "b".getBytes)))))
    assert(KafkaReplay.endOffsets(dir) ===
      scala.collection.immutable.SortedMap(0 -> 2L),
      "second query's epoch 0 was dropped by a cross-query ledger hit")
    // while replaying A's OWN epoch 0 stays a no-op
    wA.commit(0L, Array(spool(dir, ".epoch-0-task-a-1.spool", Seq((0, "a2".getBytes)))))
    assert(KafkaReplay.endOffsets(dir) ===
      scala.collection.immutable.SortedMap(0 -> 2L))
  }

  test("sink commit protocol: a torn append is truncated away on the next commit") {
    val dir = suiteTempDir("graft_replay_torn")
    val w = new KafkaReplay.ReplayStreamingWrite(dir, KafkaReplay.sinkSchema, "queryT")
    w.commit(0L, Array(spool(dir, ".epoch-0-task-t-0.spool",
      Seq((0, "a".getBytes), (0, "b".getBytes)))))
    assert(KafkaReplay.endOffsets(dir) ===
      scala.collection.immutable.SortedMap(0 -> 2L))
    // simulate a crash mid-append of epoch 1: manifest written, one torn
    // record landed on partition 0, a NEW partition log half-created,
    // the ledger never reached
    val log0 = new java.io.File(dir, "partition-0.log")
    val preLen = log0.length()
    val mf = new java.io.File(dir, "_commit.inflight")
    val fw = new java.io.FileWriter(mf)
    try fw.write(s"key queryT:1\n0 $preLen\n") finally fw.close()
    val torn = new java.io.DataOutputStream(new java.io.FileOutputStream(log0, true))
    torn.writeLong(2L); torn.writeLong(0L); torn.writeInt(1); torn.write("c".getBytes)
    torn.close() // value length/bytes missing: torn frame
    val created = new java.io.File(dir, "partition-7.log")
    val cw = new java.io.FileOutputStream(created)
    try cw.write(Array[Byte](1, 2, 3)) finally cw.close()
    // the next commit must recover (truncate + delete) then append clean
    w.commit(1L, Array(spool(dir, ".epoch-1-task-t-1.spool", Seq((0, "c".getBytes)))))
    assert(KafkaReplay.endOffsets(dir) ===
      scala.collection.immutable.SortedMap(0 -> 3L),
      "torn bytes survived recovery or the clean append was lost")
    assert(!created.exists(), "partition log created by the torn append must go")
    assert(!mf.exists(), "inflight manifest must be retired")
    val vals = spark.read.format(KafkaReplay.ShortName).option("path", dir).load()
      .select($"offset", $"value".cast("string")).as[(Long, String)]
      .collect().sortBy(_._1).toSeq
    assert(vals === Seq((0L, "a"), (1L, "b"), (2L, "c")),
      s"log contents diverged after recovery: $vals")
    // the completed-commit manifest shape: key already in the ledger ->
    // bytes are kept, only the manifest is removed
    val fw2 = new java.io.FileWriter(mf)
    try fw2.write(s"key queryT:1\n0 ${log0.length()}\n") finally fw2.close()
    KafkaReplay.recoverTornAppend(new java.io.File(dir))
    assert(!mf.exists() && KafkaReplay.endOffsets(dir).getOrElse(0, 0L) === 3L)
  }

  test("append and the sink commit share one writer: each truncates the other's torn tail") {
    val dir = suiteTempDir("graft_replay_one_writer")
    val log0 = new java.io.File(dir, "partition-0.log")
    val mf = new java.io.File(dir, "_commit.inflight")
    // a crash after the manifest and half a frame: the key is never ledgered
    def tear(key: String, offset: Long): Unit = {
      val fw = new java.io.FileWriter(mf)
      try fw.write(s"key $key\n0 ${log0.length()}\n") finally fw.close()
      val torn = new java.io.DataOutputStream(new java.io.FileOutputStream(log0, true))
      try { torn.writeLong(offset); torn.writeLong(0L); torn.writeInt(5) }
      finally torn.close()
    }
    def rec(v: String) = KafkaReplay.Record(0, null, v.getBytes, 0L)
    KafkaReplay.append(dir, Seq(rec("a")))
    tear("append:crashed", 1L)
    val w = new KafkaReplay.ReplayStreamingWrite(dir, KafkaReplay.sinkSchema, "q")
    w.commit(0L, Array(spool(dir, ".epoch-0-task-q-0.spool", Seq((0, "b".getBytes)))))
    tear("q:1", 2L)
    KafkaReplay.append(dir, Seq(rec("c")))
    assert(!mf.exists(), "inflight manifest must be retired")
    val vals = spark.read.format(KafkaReplay.ShortName).option("path", dir).load()
      .select($"offset", $"value".cast("string")).as[(Long, String)]
      .collect().sortBy(_._1).toSeq
    assert(vals === Seq((0L, "a"), (1L, "b"), (2L, "c")),
      s"a torn tail survived the other caller's recovery: $vals")
  }

  test("concurrent appends from four threads land dense offsets, nothing lost") {
    val dir = suiteTempDir("graft_replay_concurrent")
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 4).map { t =>
      new Thread(() =>
        try (0 until 25).foreach { c =>
          KafkaReplay.append(dir, (0 until 4).map(p =>
            KafkaReplay.Record(p, null, s"t$t-c$c-p$p".getBytes, tsMicros)))
        } catch { case e: Throwable => failures.add(e); () })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(failures.isEmpty, s"append failed: ${failures.peek()}")
    assert(KafkaReplay.endOffsets(dir) ===
      scala.collection.immutable.SortedMap((0 until 4).map(_ -> 100L): _*))
    val rows = spark.read.format(KafkaReplay.ShortName).option("path", dir).load()
      .select($"partition", $"offset", $"value".cast("string"))
      .as[(Int, Long, String)].collect()
    (0 until 4).foreach { p =>
      val part = rows.filter(_._1 == p)
      assert(part.map(_._2).sorted.toSeq === (0L until 100L),
        s"partition $p offsets not dense")
      assert(part.map(_._3).toSet.size === 100, s"partition $p lost or duplicated values")
    }
  }

  test("kafka_sink_pipeline leaves no checkpoint or staging dir behind") {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    def scratch(): Set[String] = Option(tmp.list()).getOrElse(Array.empty[String])
      .filter(n => n.startsWith("graft_sink_ckpt") || n.startsWith("graft_sink_wire"))
      .toSet
    val before = scratch()
    val rows = SparkEntry.queries("kafka_sink_pipeline")(spark, sf).collect()
    assert(rows.length.toLong === graft.sources.Tables.customer(spark, sf).count())
    assert(scratch() === before, "kafka_sink_pipeline leaked scratch dirs")
  }

  test("paced reads seek via the sparse position index, same rows as a full scan") {
    val dir = suiteTempDir("graft_replay_seek")
    val n = 3000
    val rows = (0 until n).map(i =>
      (0, s"k$i".getBytes, s"v$i".getBytes, i.toLong, i.toLong))
    KafkaReplay.writeLog(
      spark.createDataFrame(rows).toDF("partition", "key", "value", "tsMicros", "seq"),
      dir)
    // start offset two index strides in: the planner ships a non-zero
    // seek hint and the reader must land on exactly the same rows the
    // full-prefix scan produced
    val got = spark.read.format(KafkaReplay.ShortName).option("path", dir)
      .option("startingOffsets", """{"0":2500}""").load()
      .select($"offset", $"value".cast("string")).as[(Long, String)]
      .collect().sortBy(_._1)
    assert(got.length === 500)
    assert(got.head === ((2500L, "v2500")) && got.last === ((2999L, "v2999")))
  }

  test("micro-batch replay-from-earliest == batch pipeline over the same wire bytes") {
    val dir = writeTopic(4)
    val t = ProfileTransform(clock = Some(Instant.parse("2024-01-01T00:00:00Z")))
    val streamed = StreamingPipeline.transformed(
      StreamingPipeline.enforceAvro(
        StreamingPipeline.replayStream(spark, dir), schema, permissive = true), t)
    val q = streamed.writeStream.format("memory").queryName("replay_out")
      .outputMode("append").trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("replay_out").drop("offset", "kafka_ts").collect().toSet

    val batch = StreamingPipeline.transformed(
      StreamingPipeline.enforceAvro(
        spark.read.format(KafkaReplay.ShortName).option("path", dir)
          .option("topic", "users").load()
          .select($"key".cast("string").as("key"), $"value",
            $"topic", $"partition", $"offset", $"timestamp"),
        schema, permissive = true), t)
      .drop("offset", "kafka_ts").collect().toSet
    assert(got === batch)
    assert(got.size === 3) // id_2 blank-name filtered; tombstone value-less
    assert(got.forall(_.getAs[String]("email") == "redacted@email.com"))
  }

  test("admission control: maxOffsetsPerTrigger caps every micro-batch") {
    val dir = writeTopic(10)
    val q = StreamingPipeline.replayStream(spark, dir, maxOffsetsPerTrigger = Some(3L))
      .writeStream.format("memory").queryName("paced_out")
      .outputMode("append").trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.table("paced_out").count() === 11) // 10 users + tombstone
    val sizes = q.recentProgress.map(_.numInputRows).filter(_ > 0)
    assert(sizes.length >= 4, s"expected >=4 paced batches, got ${sizes.toSeq}")
    assert(sizes.forall(_ <= 3), s"a batch exceeded maxOffsetsPerTrigger: ${sizes.toSeq}")
  }

  test("exactly-once restart: checkpointed offsets survive; appended records flow once") {
    val dir = writeTopic(4)
    val out = suiteTempDir("graft_replay_sink")
    val ckpt = suiteTempDir("graft_replay_ckpt")
    def run(): Unit = {
      val q = StreamingPipeline.replayStream(spark, dir)
        .select($"key", $"partition", $"offset",
          from_avro_confluent($"value", schema, permissive = true).as("u"))
        .select($"key", $"partition", $"offset", $"u.user_id")
        .writeStream.format("json")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    run()
    assert(spark.read.json(out).count() === 5)
    run() // restart, no new data: nothing re-emitted
    assert(spark.read.json(out).count() === 5)
    appendUsers(dir, 10 until 13) // producer keeps writing
    run() // restart resumes from the committed offsets
    val back = spark.read.json(out)
    assert(back.count() === 8)
    assert(back.filter($"user_id" === "id_11").count() === 1)
  }

  test("V2 streaming sink: stream -> topic -> stream, exactly-once epochs, tombstones") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.SQLContext]
    val dir = suiteTempDir("graft_replay_sink_v2")
    val ckpt = suiteTempDir("graft_replay_sink_ckpt")
    val mem = MemoryStream[(Int, String, String)] // (partition, key, value|null)
    def run(): Unit = {
      val q = mem.toDF().toDF("partition", "k", "v")
        .select($"k".cast("binary").as("key"),
          when($"v" === "", lit(null).cast("binary"))
            .otherwise($"v".cast("binary")).as("value"),
          $"partition",
          lit("2024-01-01 00:00:00").cast("timestamp").as("timestamp"))
        .writeStream.format(KafkaReplay.ShortName)
        .option("path", dir).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    mem.addData((0, "k0", "v0"), (1, "k1", "v1"), (0, "k2", ""))
    run()
    mem.addData((1, "k3", "v3"))
    run() // second epoch appends, continuing offsets
    val back = spark.read.format(KafkaReplay.ShortName).option("path", dir).load()
      .select($"partition", $"offset", $"key".cast("string"),
        $"value".cast("string"), $"value".isNull)
      .as[(Int, Long, String, String, Boolean)].collect().sortBy(r => (r._1, r._2))
    assert(back.map(r => (r._1, r._2)).toSeq === Seq((0, 0L), (0, 1L), (1, 0L), (1, 1L)))
    assert(back.filter(_._5).map(_._3).toSeq === Seq("k2")) // tombstone survived
    assert(back.find(_._3 == "k3").exists(r => r._1 == 1 && r._2 == 1L))
    // no spool files left behind
    assert(!new java.io.File(dir).listFiles().exists(_.getName.contains(".spool")))
  }

  test("sink commit is idempotent per epoch: a replayed micro-batch never double-appends") {
    val dir = suiteTempDir("graft_replay_epoch")
    val w = new KafkaReplay.ReplayStreamingWrite(dir, KafkaReplay.sinkSchema)
    w.commit(7L, Array(spool(dir, ".epoch-7-task-00000-0.spool",
      Seq((0, "a".getBytes), (0, "b".getBytes)))))
    assert(KafkaReplay.endOffsets(dir) ===
      scala.collection.immutable.SortedMap(0 -> 2L))
    // the SAME epoch re-commits (sink-side retry after a failure): skipped wholesale
    w.commit(7L, Array(spool(dir, ".epoch-7-task-00000-1.spool",
      Seq((0, "a".getBytes), (0, "b".getBytes)))))
    assert(KafkaReplay.endOffsets(dir) ===
      scala.collection.immutable.SortedMap(0 -> 2L))
    // a NEW epoch appends
    w.commit(8L, Array(spool(dir, ".epoch-8-task-00000-0.spool", Seq((0, "c".getBytes)))))
    assert(KafkaReplay.endOffsets(dir) ===
      scala.collection.immutable.SortedMap(0 -> 3L))
  }

  test("offset json round-trips through deserializeOffset") {
    val o = KafkaReplay.ReplayOffset(
      scala.collection.immutable.SortedMap(0 -> 12L, 1 -> 7L))
    assert(o.json() === """{"0":12,"1":7}""")
    assert(KafkaReplay.ReplayOffset.fromJson(o.json()) === o)
  }

  test("commit is called with the drained end offsets") {
    val dir = writeTopic(3)
    val stream = new KafkaReplay.ReplayMicroBatchStream(dir, "users", None)
    val start = stream.initialOffset().asInstanceOf[KafkaReplay.ReplayOffset]
    assert(start.parts.values.forall(_ == 0L)) // earliest (ST5)
    val end = stream.latestOffset(start,
      org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable())
    val parts = stream.planInputPartitions(start, end)
    assert(parts.map(_.asInstanceOf[KafkaReplay.ReplayInputPartition].partition)
      .toSet === Set(0, 1))
    stream.commit(end) // the checkpoint holds the offsets; commit is a no-op
  }

  // ---- r15 review wave: reader visibility, proration, strict offsets ----

  test("readers never see bytes of an un-ledgered (crashed) commit (r15)") {
    val dir = writeTopic(4) // p0: 3 offsets (2 users + tombstone), p1: 2
    val before = KafkaReplay.endOffsets(dir)
    val f0 = new java.io.File(dir, "partition-0.log")
    val len0 = f0.length()
    // simulate a sink crash after its frames landed, before the ledger write:
    // extra record bytes in the log + a live manifest whose key never
    // reached the ledger (the exact recoverTornAppend window)
    val out = new java.io.DataOutputStream(new java.io.FileOutputStream(f0, true))
    try {
      out.writeLong(before(0)); out.writeLong(tsMicros)
      out.writeInt(-1); out.writeInt(-1)
    } finally out.close()
    val mf = new java.io.File(dir, "_commit.inflight")
    val w = new java.io.FileWriter(mf, false)
    try w.write(s"key crashedq:7\n0 $len0\n1 ${new java.io.File(dir, "partition-1.log").length()}\n")
    finally w.close()
    assert(KafkaReplay.endOffsets(dir) === before,
      "a live un-ledgered manifest must cap readers at the committed prefix")
    // once the key reaches the ledger the bytes are committed: no cap
    val lw = new java.io.FileWriter(new java.io.File(dir, "_epochs"), true)
    try lw.write("crashedq:7\n") finally lw.close()
    assert(KafkaReplay.endOffsets(dir)(0) === before(0) + 1,
      "a ledgered manifest key means the commit completed - bytes visible")
    mf.delete()
    // and a fresh append() (same lock + manifest protocol) first rolls
    // back nothing (manifest gone), then lands contiguous offsets
    KafkaReplay.append(dir, Seq(KafkaReplay.Record(0, "k".getBytes, "v".getBytes, tsMicros)))
    assert(KafkaReplay.endOffsets(dir)(0) === before(0) + 2)
  }

  test("maxOffsetsPerTrigger prorates across partitions by lag (r15)") {
    val dir = suiteTempDir("graft_prorate")
    // p0: 100 records, p1: 4 records
    KafkaReplay.append(dir,
      (0 until 100).map(i => KafkaReplay.Record(0, null, s"a$i".getBytes, tsMicros)) ++
      (0 until 4).map(i => KafkaReplay.Record(1, null, s"b$i".getBytes, tsMicros)))
    val stream = new KafkaReplay.ReplayMicroBatchStream(dir, "t", Some(10L))
    val start = KafkaReplay.ReplayOffset(
      scala.collection.immutable.SortedMap(0 -> 0L, 1 -> 0L))
    val end = stream.latestOffset(start,
      org.apache.spark.sql.connector.read.streaming.ReadLimit.maxRows(10L))
      .asInstanceOf[KafkaReplay.ReplayOffset].parts
    // ceil-prorated like Kafka: p0 ~ ceil(10*100/104)=10, p1 ceil(10*4/104)=1
    assert(end(1) >= 1L, s"small-lag partition must not be starved: $end")
    assert(end(0) < 100L, s"hot partition must not absorb the whole log: $end")
    assert(end(0) + end(1) <= 12L, s"admission must stay near the cap: $end")
  }

  test("out-of-range explicit offsets fail loudly; negative ends rejected (r15)") {
    val dir = writeTopic(4) // p0 has 3 offsets
    def read(startSpec: String, endSpec: String) =
      spark.read.format(KafkaReplay.ShortName)
        .option("path", dir).option("startingOffsets", startSpec)
        .option("endingOffsets", endSpec).load().count()
    val exStart = intercept[Exception] { read("""{"0":999}""", "latest") }
    assert((exStart.getMessage + Option(exStart.getCause).map(_.getMessage).mkString)
      .contains("out of range"))
    val exNeg = intercept[Exception] { read("""{"0":-5}""", "latest") }
    assert((exNeg.getMessage + Option(exNeg.getCause).map(_.getMessage).mkString)
      .contains("out of range"))
    val exEnd = intercept[Exception] { read("earliest", """{"0":-5}""") }
    assert((exEnd.getMessage + Option(exEnd.getCause).map(_.getMessage).mkString)
      .contains("not a valid offset"))
    // the documented past-end CLAMP on ends survives
    assert(read("earliest", """{"0":999,"1":999}""") === 5L)
  }

  test("sink write schema is validated on TYPES, not just names (r15)") {
    val dir = suiteTempDir("graft_sinktype")
    val ex = intercept[Exception] {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val ms = MemoryStream[(Array[Byte], Array[Byte], String)]
      val q = ms.toDF().toDF("key", "value", "partition") // partition: STRING
        .writeStream.format(KafkaReplay.ShortName)
        .option("path", dir)
        .option("checkpointLocation", suiteTempDir("ck"))
        .start()
      try { ms.addData((Array[Byte](1), Array[Byte](2), "0")); q.processAllAvailable() }
      finally q.stop()
    }
    val msg = ex.getMessage +
      Option(ex.getCause).map(_.getMessage).mkString
    assert(msg.contains("sink needs columns"), s"got: $msg")
  }

  test("the registry DLQ isolates undecodable payloads from tombstones (r15)") {
    import graft.streaming.StreamingPipeline
    val dir = writeTopic(2) // 2 live users + the null-value tombstone
    KafkaReplay.append(dir, Seq(
      KafkaReplay.Record(0, "corrupt".getBytes, Array[Byte](9, 9, 9), tsMicros)))
    val shaped = spark.read.format(KafkaReplay.ShortName).option("path", dir)
      .option("topic", "users").load()
      .select($"key".cast("string").as("key"), $"value",
        $"topic", $"partition", $"offset", $"timestamp")
    val dlq = StreamingPipeline.avroRegistryDeadLetters(shaped, Map(7 -> schema), schema)
      .collect()
    assert(dlq.map(_.getAs[String]("key")).toSeq === Seq("corrupt"),
      "only the present-but-undecodable record belongs on the DLQ - " +
        "tombstones (null value) are deletes, not corruption")
    // and the main path still drops both, as the pinned skip semantic says
    val live = StreamingPipeline.transformed(
      StreamingPipeline.enforceAvro(shaped, schema, permissive = true),
      ProfileTransform(clock = Some(Instant.parse("2024-01-01T00:00:00Z"))))
    assert(!live.select("user_id").as[String].collect().contains("corrupt"))
  }

  test("cross-process log replacement with a LONGER file re-frames from " +
      "scratch instead of resuming a stale position (r16 ADVICE)") {
    // dir A: 3 records on partition 0; read once to prime this JVM's
    // position cache with A's framing state
    val dirA = suiteTempDir("graft_replaceA")
    KafkaReplay.append(dirA, (0 until 3).map(i =>
      KafkaReplay.Record(0, s"a_$i".getBytes, s"va_$i".getBytes, tsMicros)))
    def readKeys(dir: String): Seq[String] =
      spark.read.format(KafkaReplay.ShortName).option("path", dir)
        .option("topic", "t").load()
        .select($"key".cast("string")).as[String].collect().sorted.toSeq
    assert(readKeys(dirA) === Seq("a_0", "a_1", "a_2"))
    // dir B: a LONGER log with different content AND a different record-0
    // timestamp, written independently (another JVM's writeLog analog)
    val dirB = suiteTempDir("graft_replaceB")
    KafkaReplay.append(dirB, (0 until 7).map(i =>
      KafkaReplay.Record(0, s"b_$i".getBytes, s"vb_longer_$i".getBytes,
        tsMicros + 1000000L)))
    // replace A's partition log by raw byte copy — bypassing writeLog,
    // so THIS JVM's cache entry for A is never invalidated (the
    // cross-process scenario: the writer JVM can't see our cache)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(dirB, "partition-0.log"),
      java.nio.file.Paths.get(dirA, "partition-0.log"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // a resume from A's stale scannedPos would mis-frame into garbage;
    // the content check must detect the replacement and re-frame whole
    assert(readKeys(dirA) === (0 until 7).map(i => s"b_$i"))
  }

  test("replacement sharing record 0's offset+timestamp AND a coincident " +
      "offset long at scannedPos is still detected (r16 ADVICE #3)") {
    // The adversarial corner of the pre-r17 fingerprint: record 0's
    // 16-byte header (offset 0 + the same timestamp) matches, and the 8
    // bytes at the cached scannedPos are CRAFTED to decode to cached.n —
    // both old checks pass on a replaced file. The prefix CRC sees the
    // differing key/value bytes and forces the full re-frame.
    val dirA = suiteTempDir("graft_replaceC")
    // fixed-shape records: frame = 24 + 4 + 4 = 32 bytes each
    KafkaReplay.append(dirA, (0 until 3).map(i =>
      KafkaReplay.Record(0, f"ka$i%02d".getBytes, f"va$i%02d".getBytes, tsMicros)))
    def readKeys(dir: String): Seq[String] =
      spark.read.format(KafkaReplay.ShortName).option("path", dir)
        .option("topic", "t").load()
        .select($"key".cast("string")).as[String].collect().sorted.toSeq
    assert(readKeys(dirA) === Seq("ka00", "ka01", "ka02")) // prime the cache
    // B's record 0: same offset (0) and SAME timestamp → identical 16-byte
    // head; a 76-byte value whose bytes at absolute position 96 (= A's
    // scannedPos, inside this value) decode to long 3 (= A's cached n)
    val crafted = Array.fill[Byte](76)('x'.toByte)
    java.util.Arrays.fill(crafted, 68, 75, 0.toByte)
    crafted(75) = 3
    val dirB = suiteTempDir("graft_replaceD")
    KafkaReplay.append(dirB,
      KafkaReplay.Record(0, "kb00".getBytes, crafted, tsMicros) +:
        (1 until 5).map(i =>
          KafkaReplay.Record(0, f"kb$i%02d".getBytes, f"vb$i%02d".getBytes, tsMicros)))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(dirB, "partition-0.log"),
      java.nio.file.Paths.get(dirA, "partition-0.log"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // stale-resume would keep n=3 and truncate B to its first 3 records;
    // the CRC-verified path re-frames and sees all 5
    assert(readKeys(dirA) === Seq("kb00", "kb01", "kb02", "kb03", "kb04"))
  }
}
