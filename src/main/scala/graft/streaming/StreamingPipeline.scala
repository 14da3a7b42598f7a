package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.StructType

import graft.ops.ProfileTransform

case class UserEvent(user_id: Long, value: Double)
case class UserTotal(user_id: Long, n_events: Long, total_value: Double)
case class VersionEvent(user_id: Long, event_id: Long,
    ts: java.sql.Timestamp, value: Double)
case class Scd2Out(user_id: Long, event_id: Long,
    valid_from: java.sql.Timestamp, valid_to: Option[java.sql.Timestamp],
    value: Double, is_current: Boolean)
case class LshBandRow(id: Long, band: Int, bh: String)
case class LshBucketState(ids: List[Long], saturated: Boolean)
case class LshPair(id_a: Long, id_b: Long)
/** Sessionization input: `ts` (timestamp) carries the watermark; all
  * session arithmetic runs on `ts_us` (exact event micros — Timestamp
  * round-trips through the encoder at millis precision). */
case class SessEvent(user_id: Long, event_id: Long,
    ts: java.sql.Timestamp, ts_us: Long)
/** One open session interval: [start_us, last_us] with its event count.
  * The raw events are NOT retained — consecutive in-session events are
  * < gap apart by construction, so a compressed interval is enough to
  * answer "does this row extend the session" exactly. */
case class SessAcc(start_us: Long, last_us: Long, n: Long)
case class SessState(sessions: List[SessAcc])

/** THE gap-session interval merge — the single home shared by the fMGWS
  * formulation ([[StreamingPipeline.gapSessions]]) and the
  * transformWithState one ([[TwsSessions.GapSessionLogic]]). The two
  * processors are spec-pinned output-equal; keeping the fold in one
  * place makes that equality true by construction instead of by
  * copy-paste discipline (r13 review). */
object GapMerge {
  /** Sort by start, coalesce while the next interval starts within
    * `gapUs` of the previous end. */
  def merge(prior: List[SessAcc], fresh: List[SessAcc], gapUs: Long): List[SessAcc] =
    (prior ++ fresh).sortBy(s => (s.start_us, s.last_us))
      .foldLeft(List.empty[SessAcc]) {
        case (prev :: tail, cur) if cur.start_us - prev.last_us < gapUs =>
          SessAcc(prev.start_us,
            math.max(prev.last_us, cur.last_us), prev.n + cur.n) :: tail
        case (acc, cur) => cur :: acc
      }.reverse

  /** The closable/open split against a watermark (microseconds). */
  def split(merged: List[SessAcc], gapUs: Long, wmUs: Long): (List[SessAcc], List[SessAcc]) =
    merged.partition(_.last_us + gapUs <= wmUs)

  /** The next wake timestamp (ms) for the open set: ONE ms before the
    * ceil'd earliest closable instant, clamped past the current
    * watermark (the engine rejects timeouts at or before it). The −1 is
    * the r14 boundary fix: an event-time timer fires only when the
    * watermark advances strictly PAST it, so arming exactly AT
    * ceil(closable) never fires when the FINAL watermark lands exactly
    * on that millisecond (an idle stream or an AvailableNow run without
    * a later pusher then silently drops the session). Arming one ms
    * early is safe by construction: every wake handler re-splits
    * against the CURRENT watermark — a not-yet-closable set emits
    * nothing and re-arms clamped past the watermark, so either engine
    * firing semantic converges on the correct emission.
    *
    * Residual liveness bound (r15 review): when the clamp BINDS (the
    * closable instant is within 1 ms of the current watermark), wm+1 is
    * the earliest timestamp the engine accepts — a stream whose FINAL
    * watermark then halts exactly on wm+1 has a timer that can never
    * strictly-fire. Unfixable from this side (arming at or below the
    * watermark throws); bounded to 1 ms and only reachable when event
    * time stops advancing forever at that exact millisecond. Bounded
    * runs (AvailableNow + a far-future pusher, the registry pattern)
    * are immune. */
  def nextTimerMs(open: List[SessAcc], gapUs: Long, wmMs: Long): Long = {
    val nextUs = open.map(_.last_us + gapUs).min
    math.max(wmMs + 1L, (nextUs + 999L) / 1000L - 1L)
  }
}
case class SessionOut(user_id: Long, session_start_us: Long,
    session_last_us: Long, n_events: Long)
/** Streamed-funnel input: `ts` carries the watermark, the match
  * arithmetic runs on exact `ts_us` micros. */
case class FunnelEvent(user_id: Long, event_id: Long,
    ts: java.sql.Timestamp, ts_us: Long, event_type: String)
/** Per-user funnel snapshot. `frontier_us` (highest folded event time)
  * lets the sink settle multi-batch runs: later snapshots strictly
  * dominate earlier ones, so keep the max-frontier row per user. */
case class FunnelOut(user_id: Long, n_events: Long, matched: Boolean,
    frontier_us: Long)
/** The O(1) funnel step machine (greedy-earliest over in-order folds):
  * first signup anchor, earliest in-window later view, matched flag,
  * lifetime event count, and the fold frontier. */
case class FunnelMachine(n: Long, sUs: Long, sId: Long, hasS: Boolean,
    vUs: Long, vId: Long, hasV: Boolean, matched: Boolean, frontierUs: Long)
/** Machine + the in-horizon reorder buffer of not-yet-folded events. */
case class FunnelState(machine: FunnelMachine, buf: List[(Long, Long, String)])

/** Structured-Streaming rendering of the reference pipeline
  * (SURVEY.md §3.2): Kafka topic → per-record SMT → partitioned JSON
  * objects in a bucket. Here: a Kafka-shaped streaming DataFrame →
  * schema-enforced decode → declarative ProfileTransform → partitioned
  * JSON file sink with checkpointing.
  *
  * Delivery semantics (ST1): the reference's Connect S3 sink is
  * at-least-once with flush.size record batching
  * (`/root/reference/connectors/s3-sink.json:10-11`); Spark's file sink is
  * exactly-once via the checkpoint + `_spark_metadata` commit log —
  * strictly stronger. [[jsonSinkSizedObjects]] sizes objects like the
  * Connect sink: one write pass per micro-batch rolls a new object every
  * N records per Kafka partition, so each partition of a batch becomes a
  * series of objects of at most N records; record-level content is
  * identical.
  */
object StreamingPipeline {

  /** The Kafka source column contract (what `format("kafka")` yields,
    * minus the binary->string casts applied here): SURVEY.md §2.1 S2/S11. */
  val kafkaShapedColumns: Seq[String] =
    Seq("key", "value", "topic", "partition", "offset", "timestamp")

  /** Wiring for a real Kafka cluster (S2: earliest offsets, bounded batch
    * or continuous stream). Compiles against core Spark; running it
    * requires the spark-sql-kafka connector jar on the cluster classpath. */
  def kafkaStream(
      spark: SparkSession, bootstrapServers: String, topic: String,
      startingOffsets: String = "earliest"): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
      .load()
      .select(
        col("key").cast("string").as("key"),
        col("value").cast("string").as("value"),
        col("topic"), col("partition"), col("offset"), col("timestamp"))

  /** File-based stand-in with the same shape: a directory of JSONL files
    * (exactly what the reference's sink bucket holds, S5/S6). */
  def jsonlStream(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).json(path)

  /** S3/S4 schema enforcement: decode the value payload against an
    * explicit schema (the Schema-Registry analog — analyzer errors on
    * mismatch replace registry rejection). Keeps Kafka metadata columns
    * for T10 re-wrap. */
  def enforceSchema(kafkaShaped: DataFrame, valueSchema: StructType): DataFrame =
    kafkaShaped.select(
      col("key"), col("topic"), col("partition"), col("offset"), col("timestamp"),
      from_json(col("value"), valueSchema).as("v"))

  /** S3 for real: decode the Confluent-framed Avro value payload (the
    * reference's actual wire format — producer.py:40 AvroSerializer)
    * against the producer schema. The value column must still be binary
    * (use [[kafkaStreamBinary]], not the string-casting [[kafkaStream]]).
    * Tombstones (null value) pass through as null structs (T1). */
  def enforceAvro(kafkaShaped: DataFrame, schemaJson: String,
      permissive: Boolean = false): DataFrame =
    kafkaShaped.select(
      col("key"), col("topic"), col("partition"), col("offset"), col("timestamp"),
      graft.avro.functions.from_avro_confluent(
        col("value"), schemaJson, permissive).as("v"))

  /** [[enforceAvro]] with per-record writer-schema dispatch (r17,
    * VERDICT r16 #1/#5): each frame's header id resolves its own writer
    * schema from `registry` and projects onto `readerSchemaJson` — the
    * registry-deserializer behavior a long-retention topic needs when
    * its value schema evolved mid-stream. The id→schema resolution is
    * per RECORD inside the expression, so every micro-batch handles a
    * mix of eras with no per-batch splitting; unknown ids follow the
    * mode (strict: typed executor error; permissive: null struct —
    * route [[avroRegistryDeadLetters]] to the DLQ). The evolution
    * pre-flight gates every mapped writer at analysis time, id named.
    * The frame's writer id travels alongside the decode as `schema_id`
    * (r18) — the era tag monitoring wants (rows-per-writer-version) and
    * the oracle gate pins (each record dispatched on its OWN frame id,
    * not a per-batch constant); tombstones carry a null id like a null
    * struct.
    *
    * COMPATIBILITY NOTE (r18 → , r18 ADVICE #3): adding `schema_id`
    * WIDENED this method's output schema — r17 output was (key, topic,
    * partition, offset, timestamp, v). In-repo callers select by name
    * and are unaffected, but external consumers using positional access,
    * and checkpointed file sinks restarted over output written with the
    * pre-r18 schema, see a schema change: re-map positional reads and
    * start widened sinks from a fresh output directory (or a sink format
    * that supports schema merge). */
  def enforceAvroRegistry(kafkaShaped: DataFrame, registry: Map[Int, String],
      readerSchemaJson: String, permissive: Boolean = false): DataFrame =
    kafkaShaped.select(
      col("key"), col("topic"), col("partition"), col("offset"), col("timestamp"),
      graft.avro.functions.avro_schema_id(col("value")).as("schema_id"),
      graft.avro.functions.from_avro_registry(
        col("value"), registry, readerSchemaJson, permissive).as("v"))

  /** The DLQ branch of the registry decode: present-but-undecodable
    * values — malformed bodies AND frames whose id the registry map
    * doesn't know (the frame id stays readable via `avro_schema_id`, so
    * the DLQ consumer can triage unknown-id rows apart from corruption). */
  def avroRegistryDeadLetters(kafkaShaped: DataFrame,
      registry: Map[Int, String], readerSchemaJson: String): DataFrame =
    kafkaShaped.filter(col("value").isNotNull &&
      graft.avro.functions.from_avro_registry(
        col("value"), registry, readerSchemaJson, permissive = true).isNull)

  /** The in-sandbox Kafka stand-in over the REAL DataSource-V2 streaming
    * API ([[graft.sources.KafkaReplay]]): same column contract as
    * [[kafkaStreamBinary]], fed from a replayable on-disk segment log.
    * `maxOffsetsPerTrigger` flows into the source's admission control
    * exactly like the Kafka connector's option. */
  def replayStream(spark: SparkSession, path: String,
      maxOffsetsPerTrigger: Option[Long] = None): DataFrame = {
    val r = spark.readStream
      .format(graft.sources.KafkaReplay.ShortName)
      .option("path", path)
      .option("topic", "users")
    maxOffsetsPerTrigger.foreach(n => r.option("maxOffsetsPerTrigger", n.toString))
    r.load()
      .select(
        col("key").cast("string").as("key"),
        col("value"),
        col("topic"), col("partition"), col("offset"), col("timestamp"))
  }

  /** [[kafkaStream]] minus the value cast — Avro payloads need the raw
    * bytes. */
  def kafkaStreamBinary(
      spark: SparkSession, bootstrapServers: String, topic: String,
      startingOffsets: String = "earliest"): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
      .load()
      .select(
        col("key").cast("string").as("key"),
        col("value"),
        col("topic"), col("partition"), col("offset"), col("timestamp"))

  /** The transform stage over an enforced frame: T2-T9 on the value
    * fields + T10 re-wrap (key/partition/timestamp preserved alongside
    * the new value struct). Tombstones: the reference SMT passes them
    * through UNCHANGED (T1, `UserProfileTransform.java:25`) and leaves
    * their fate to the sink's null-value policy — this stage folds that
    * sink policy in and DROPS them (`behavior.on.null.values=ignore`,
    * the setting a JSON object sink with no delete semantics runs
    * with), so the T1 passthrough surface in this pipeline is
    * [[enforceAvro]]'s null structs, not this function's output. A
    * consumer needing delete propagation should branch on
    * `v.isNull` BEFORE this stage. */
  def transformed(enforced: DataFrame, t: ProfileTransform): DataFrame = {
    // filter BEFORE the v.* expansion (r15 review): the old
    // post-projection filter resolved "v" only through the analyzer's
    // missing-attribute re-injection, and a value schema carrying a
    // field literally named "v" would have silently bound the filter to
    // the wrong column (dropping field-v nulls, keeping tombstones)
    val live = enforced.filter(col("v").isNotNull)
    t(live.select(
      col("key"), col("topic"), col("partition"), col("offset"),
      col("timestamp").as("kafka_ts"), col("v.*")))
  }

  /** The DEAD-LETTER branch of the permissive decode policy (r15
    * review): records whose value is PRESENT but undecodable against
    * `schemaJson`. [[enforceAvro]]+[[transformed]] drop BOTH tombstones
    * (null value — the sink's behavior.on.null.values=ignore policy)
    * and malformed payloads (permissive decode nulls them) through the
    * same `v.isNull` filter, which makes producer corruption
    * indistinguishable from deletes. A deployment routes THIS frame to
    * its DLQ topic/bucket; the registered malformed-skip queries pin
    * the drop semantic itself. */
  def avroDeadLetters(kafkaShaped: DataFrame, schemaJson: String): DataFrame =
    kafkaShaped.filter(col("value").isNotNull &&
      graft.avro.functions.from_avro_confluent(
        col("value"), schemaJson, permissive = true).isNull)

  /** S7-S9: partitioned JSON sink with checkpointing. `partitionBy` on the
    * Kafka partition column reproduces the DefaultPartitioner's
    * `partition=<p>/` object layout (s3-sink.json:20). */
  def jsonSink(
      df: DataFrame, outPath: String, checkpoint: String,
      partitionColumns: Seq[String] = Seq("partition"),
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream
      .format("json")
      .partitionBy(partitionColumns: _*)
      .option("path", outPath)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)

  /** S8 `flush.size` analog: the reference's S3 sink writes one object
    * series per topic partition and closes an object every N records
    * (`connectors/s3-sink.json:11`). Here each micro-batch is ONE write
    * pass with `maxRecordsPerFile = recordsPerObject`: every write task
    * (one per Kafka partition of the batch, as long as the upstream plan
    * does not shuffle) rolls a new object every N records, so a batch
    * yields `Σ_p ceil(n_p / N)` objects of at most N records, each
    * holding one partition's records. No count, persist or shuffle runs
    * per trigger; record-level content is identical. A batch whose rows
    * are all filtered out leaves at most an empty object. Exactly-once
    * is the [[avroSink]] pattern: each batch OVERWRITES its own
    * `batch=<id>/` subdirectory, so a micro-batch replayed after a
    * crash-before-checkpoint rewrites its output instead of appending a
    * duplicate copy (a bare `mode("append")` to one directory — the
    * pre-r13 form — double-writes exactly then). Readers glob the
    * directory tree; the `batch` path segment surfaces as a partition
    * column and is not part of the record payload. */
  def jsonSinkSizedObjects(
      df: DataFrame, outPath: String, checkpoint: String,
      recordsPerObject: Int,
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[org.apache.spark.sql.Row] = {
    // 0 would read as "unlimited" under maxRecordsPerFile
    require(recordsPerObject > 0,
      s"jsonSinkSizedObjects: recordsPerObject must be > 0, got $recordsPerObject")
    df.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch.write.mode("overwrite")
          .option("maxRecordsPerFile", recordsPerObject.toLong)
          .json(s"$outPath/batch=$batchId")
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
  }

  /** Avro container-file streaming sink: one subdirectory of OCF files
    * per micro-batch (`batch=<id>/part-*.avro`) written through
    * [[graft.avro.AvroFiles]]. A replayed batch (restart before the
    * checkpoint commit) rewrites its OWN subdirectory wholesale, so
    * object contents are exactly-once without a commit log — the
    * idempotent-overwrite delivery pattern. `recordsPerObject > 0`
    * sizes files per the flush.size story (S8). */
  def avroSink(
      df: DataFrame, schemaJson: String, outPath: String, checkpoint: String,
      recordsPerObject: Int = 0,
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch.persist() // count() + write: one source decode, not two
        try {
          val n = batch.count()
          if (n > 0) {
            val sized =
              if (recordsPerObject > 0)
                batch.repartition(math.max(1, math.ceil(n.toDouble / recordsPerObject).toInt))
              else batch
            graft.avro.AvroFiles.write(sized.toDF(), schemaJson, s"$outPath/batch=$batchId")
            ()
          }
        } finally { batch.unpersist(): Unit }
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)

  /** The highest committed state version strictly below `before` (a
    * replayed batch must fold from its ORIGINAL predecessor, never from
    * its own possibly-half-written output). */
  private def latestStateVersion(spark: SparkSession, stateDir: String,
      before: Long): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(stateDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      // only COMMITTED versions qualify: a v=<id> directory exists from
      // the first task file of an in-flight (or crashed) overwrite, and
      // reading it would violate the snapshot-isolation contract —
      // _SUCCESS is the FileOutputCommitter's commit marker
      // toLongOption, not toLong (r17 review — the same hardening the
      // retention sweep and AvroTable's batch= sweep already carry): a
      // foreign `v=<non-numeric>` dir under stateDir would otherwise
      // throw inside EVERY read and commit — a permanently wedged sink
      val versions = fs.listStatus(p).filter(_.isDirectory)
        .map(_.getPath)
        .filter(d => fs.exists(new org.apache.hadoop.fs.Path(d, "_SUCCESS")))
        .map(_.getName)
        .collect { case n if n.startsWith("v=") => n.drop(2).toLongOption }
        .flatten
        .filter(_ < before)
      if (versions.isEmpty) None
      else Some(spark.read.parquet(s"$stateDir/v=${versions.max}"))
    }
  }

  /** Incremental materialized aggregate — the CDC upsert-merge pattern
    * without a table format: each micro-batch folds its partial
    * aggregate into a versioned keyed state table. `stateDir/v=<id>` is
    * computed deterministically from `v=<previous id>` plus this batch,
    * so a replayed batch overwrites its OWN version (exactly-once), and
    * readers take the highest committed version (manifest-free snapshot
    * isolation; a production deployment swaps the parquet dirs for a
    * table format's transactional commit). The merge shuffles on the
    * grouping key only — state size tracks distinct keys, never stream
    * length, which is what makes the materialized view viable at
    * 100 TB of history. */
  def incrementalTotals(
      df: DataFrame, keyCol: String, valueCol: String,
      stateDir: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        // incarnation guard (r14): versions STRICTLY ABOVE the current
        // batch id cannot belong to this run — the checkpoint guarantees
        // batches after `batchId` never committed, so any higher v=
        // came from a DEAD incarnation (a rerun whose checkpoint was
        // lost restarts batch ids at 0; without this sweep the dead
        // run's higher versions survive and currentTotals' max-version
        // read silently serves the stale snapshot forever)
        locally {
          val p = new org.apache.hadoop.fs.Path(stateDir)
          val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          if (fs.exists(p))
            fs.listStatus(p).filter(_.isDirectory).map(_.getPath)
              .filter { d =>
                // toLongOption: a foreign non-numeric v= dir is left
                // alone, not a per-batch crash (r17 review, matching
                // the retention sweep below)
                val n = d.getName
                n.startsWith("v=") && n.drop(2).toLongOption.exists(_ > batchId)
              }
              .foreach(d => fs.delete(d, true))
        }
        val agg = batch.groupBy(col(keyCol))
          .agg(sum(col(valueCol)).as("total"), count(lit(1)).as("n_events"))
        val merged = latestStateVersion(spark, stateDir, before = batchId) match {
          case Some(prev) =>
            prev.unionByName(agg).groupBy(col(keyCol))
              .agg(sum(col("total")).as("total"), sum(col("n_events")).as("n_events"))
          case None => agg
        }
        merged.write.mode("overwrite").parquet(s"$stateDir/v=$batchId")
        // bounded version tail (r15 review): a replayed batch B reads
        // v=B-1, so committed versions older than two back are dead
        // weight — without this sweep a continuous deployment wrote one
        // full snapshot of the aggregate per micro-batch FOREVER.
        // Keeping two (not one) also gives a concurrent currentTotals
        // reader that just resolved v=B-1 a grace window; as with the
        // signal sweeps, cross-process readers racing a regeneration
        // are out of scope (single estate per stateDir).
        locally {
          val p = new org.apache.hadoop.fs.Path(stateDir)
          val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          if (fs.exists(p))
            fs.listStatus(p).filter(_.isDirectory).map(_.getPath)
              .filter { d =>
                val n = d.getName
                n.startsWith("v=") &&
                  n.drop(2).toLongOption.exists(_ < batchId - 2)
              }
              .foreach(d => fs.delete(d, true))
        }
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)

  /** Read the current snapshot of an [[incrementalTotals]] state table. */
  def currentTotals(spark: SparkSession, stateDir: String): Option[DataFrame] =
    latestStateVersion(spark, stateDir, before = Long.MaxValue)

  // ---- ST3/ST4 gap: event-time semantics --------------------------------

  /** Tumbling or sliding windowed aggregation with a watermark. */
  def windowedCounts(
      events: DataFrame, tsCol: String, delay: String,
      width: String, slide: Option[String] = None): DataFrame = {
    val w = slide.fold(window(col(tsCol), width))(s => window(col(tsCol), width, s))
    events
      .withWatermark(tsCol, delay)
      .groupBy(w.as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
        col("event_type"), col("n"), col("sum_value"))
  }

  /** Session windows (gap-based) per user. */
  def sessionCounts(
      events: DataFrame, tsCol: String, delay: String, gap: String): DataFrame =
    events
      .withWatermark(tsCol, delay)
      .groupBy(session_window(col(tsCol), gap).as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("sw.start").as("session_start"), col("sw.end").as("session_end"),
        col("user_id"), col("n_events"))

  /** Stream-stream interval join: purchases matched to the same user's
    * signups within `horizon` before them. Watermarks on BOTH sides plus
    * the time-range predicate bound the join state (without them the
    * stream-stream join buffers forever — the 100 TB failure mode). */
  def streamIntervalJoin(
      left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String,
      delay: String, horizon: String,
      joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark(leftTs, delay).alias("l")
    val r = right.withWatermark(rightTs, delay).alias("r")
    // For outer variants the same watermark + range predicate that bound
    // the state also tell Spark WHEN an unmatched row is final: a left
    // row emits null-extended once the right watermark passes its match
    // window, so outer results trickle out bounded by `delay`, not at
    // stream end.
    l.join(r,
      col(s"l.$key") === col(s"r.$key") &&
        col(s"r.$rightTs") <= col(s"l.$leftTs") &&
        col(s"r.$rightTs") >= col(s"l.$leftTs") - expr(s"INTERVAL $horizon"),
      joinType)
  }

  /** Custom keyed state (the `flatMapGroupsWithState` escape hatch,
    * SURVEY.md §2.9 ST4): per-key running aggregates that survive across
    * micro-batches. Used here for running per-user event counts + value
    * totals; the same shape carries any incremental per-key model. */
  /** `idleTimeout` bounds state at stream scale: a key idle past the
    * horizon has its running total evicted (the next event starts a
    * fresh count — the documented trade for per-key state that would
    * otherwise grow with lifetime key cardinality forever). */
  def runningUserTotals(
      events: org.apache.spark.sql.Dataset[UserEvent],
      idleTimeout: Option[String] = None): org.apache.spark.sql.Dataset[UserTotal] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    val timeoutConf =
      if (idleTimeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserTotal, UserTotal](
        OutputMode.Append, timeoutConf) {
        (userId: Long, rows: Iterator[UserEvent], state: GroupState[UserTotal]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val prev = state.getOption.getOrElse(UserTotal(userId, 0L, 0.0))
            var n = prev.n_events
            var total = prev.total_value
            rows.foreach { e => n += 1; total += e.value }
            val next = UserTotal(userId, n, total)
            state.update(next)
            idleTimeout.foreach(state.setTimeoutDuration)
            Iterator.single(next)
          }
      }
  }

  /** Streaming SCD2: the stateful twin of the batch `scd2_history`
    * query — each user's open validity interval lives in keyed state;
    * an arriving event CLOSES it (emitting the finalized
    * [valid_from, valid_to) row) and opens its own. Append-mode CDC
    * caveat, documented: the open (is_current) row is emitted
    * optimistically and cannot be retracted when a later event closes
    * it — downstream consumers keep the LAST emission per
    * (user_id, event_id), exactly the last-writer-wins convention the
    * reference's verifier applies. In-batch rows sort by (ts, event_id)
    * before folding, so batch boundaries never change the intervals AS
    * LONG AS arrival is ordered per key ACROSS batches; a late row
    * (older than the open interval's valid_from, delivered in a later
    * batch) is DROPPED as a stale update — the open row was already
    * emitted and cannot be retracted, and folding it would mint an
    * inverted interval (valid_to < valid_from). That is the standard
    * CDC stale-update policy; the batch `scd2_history` twin, which
    * sorts globally, would have placed the row earlier in the history —
    * the stream==batch equality holds exactly on ordered (or
    * single-replay AvailableNow) delivery. State per user is ONE open
    * interval — bounded by keys, not stream length. */
  def streamingScd2(events: org.apache.spark.sql.Dataset[VersionEvent])
      : org.apache.spark.sql.Dataset[Scd2Out] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Scd2Out, Scd2Out](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[VersionEvent], state: GroupState[Scd2Out]) =>
          // FULL-microsecond ordering (r14): getTime is millisecond-
          // truncated, so two same-user events inside one ms folded in
          // the wrong order (and the stale floor wrongly dropped the
          // later one) — the exact precision gap ts_us fixed for
          // sessions/funnel, applied here; the batch twin and the
          // oracle order by the untruncated ts column
          def us(t: java.sql.Timestamp): Long =
            t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
          // stale-update guard (r13): an event older than the open
          // interval's start would close it with valid_to < valid_from
          val floor = state.getOption.map(o => (us(o.valid_from), o.event_id))
          val sorted = rows.toSeq.sortBy(e => (us(e.ts), e.event_id))
            .filter(e => floor.forall(f =>
              Ordering[(Long, Long)].gt((us(e.ts), e.event_id), f)))
          if (sorted.isEmpty) Iterator.empty
          else {
            val out = scala.collection.mutable.ArrayBuffer[Scd2Out]()
            var open = state.getOption
            sorted.foreach { e =>
              open.foreach { o =>
                out += o.copy(valid_to = Some(e.ts), is_current = false)
              }
              open = Some(Scd2Out(userId, e.event_id, e.ts, None, e.value,
                is_current = true))
            }
            state.update(open.get)
            out += open.get
            out.iterator
          }
      }
  }

  /** Streaming MinHash-LSH near-dup candidates: documents arrive as a
    * stream, signatures are computed scan-side (the same fused
    * MinHashSignatureMd5 kernel as the batch path), banded rows group by
    * (band, bucket-hash), and per-bucket keyed state holds the member id
    * list — each new doc emits one candidate pair per existing member.
    *
    * Semantics vs the batch `Dedup.lshCandidates`: identical pair set on
    * any prefix where no bucket exceeds `maxBucket` (spec-asserted), with
    * two documented stream-shaped deltas: (a) pairs that collide in
    * several bands are emitted once PER band (batch dedups globally —
    * consumers `dropDuplicates` downstream; retraction-free sinks can't
    * dedup retroactively), and (b) the bucket cap is prospective — a
    * bucket saturates once it holds `maxBucket` members and stops
    * emitting, while batch drops the whole oversized bucket
    * retroactively. State is bounded: ≤ maxBucket ids per live bucket.
    */
  def streamingLshCandidates(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, numHashes: Int = 16, bands: Int = 4,
      maxBucket: Int = 1000,
      bucketTtl: Option[String] = None): org.apache.spark.sql.Dataset[LshPair] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = docs.sparkSession
    import spark.implicits._
    val timeoutConf =
      if (bucketTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    val rowsPerBand = numHashes / bands
    val withSig = docs
      .select(col(idCol).cast("long").as("id"),
        graft.functions.TextFunctions.shingles(col(textCol), k).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("sig", graft.operators.Dedup.minhashSignatureMd5(col("sh"), numHashes))
    // SHARED banding kernel (r15 review): the batch path and this
    // incremental twin must be encoding-identical by construction —
    // an inline copy of the band hash would silently diverge the
    // spec-pinned pair-set equality if the batch encoding ever moved
    val banded = graft.operators.Dedup
      .bandedRows(withSig, "id", "sig", bands, rowsPerBand)
      .as[LshBandRow]
    banded
      .groupByKey(r => (r.band, r.bh))
      .flatMapGroupsWithState[LshBucketState, LshPair](
        OutputMode.Append, timeoutConf) {
        (_: (Int, String), rows: Iterator[LshBandRow],
         state: GroupState[LshBucketState]) =>
          if (state.hasTimedOut) {
            // bucketTtl eviction: idle buckets are dropped; later docs in
            // that bucket miss pairs against pre-TTL members (the
            // documented recall trade that keeps total state ∝ the
            // active working set, not corpus lifetime)
            state.remove()
            Iterator.empty
          } else {
            val prior = state.getOption.getOrElse(LshBucketState(Nil, saturated = false))
            var members = prior.ids
            // O(1) membership (r15 review): a near-dup flood landing
            // maxBucket docs in one bucket in one batch made the
            // List.contains fold O(rows x maxBucket) on the state-store
            // hot path
            val seen = scala.collection.mutable.HashSet.from(prior.ids)
            var saturated = prior.saturated
            val out = scala.collection.mutable.ListBuffer.empty[LshPair]
            rows.foreach { r =>
              if (!saturated && !seen.contains(r.id)) {
                members.foreach { m =>
                  out += LshPair(math.min(m, r.id), math.max(m, r.id))
                }
                members = r.id :: members
                seen += r.id
                // seen.size, not members.length (r17): the list scan is
                // O(members) per appended id — the same flood hot path
                // the r15 HashSet fix de-quadratified; the set mirrors
                // the member list exactly, so its size is the bucket size
                if (seen.size >= maxBucket) saturated = true
              }
            }
            state.update(LshBucketState(members, saturated))
            bucketTtl.foreach(state.setTimeoutDuration)
            out.iterator
          }
      }
  }

  /** ST4: streaming dedup with bounded state — duplicates arriving within
    * the watermark horizon are dropped; state for keys older than the
    * watermark is evicted (the unbounded-state hazard of plain
    * `dropDuplicates` at 100 TB). */
  def dedupWithinWatermark(
      df: DataFrame, keyCols: Seq[String], tsCol: String, delay: String): DataFrame =
    df.withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** ST4 custom keyed state: gap sessionization through
    * `flatMapGroupsWithState` with EVENT-TIME timeout — the state-store
    * twin of the batch `session_window` query, exact under in-horizon
    * out-of-order arrival (where a naive last-event fold drifts).
    *
    * State per user is a list of gap-disjoint compressed intervals
    * `[start, last] × n` — bounded by the in-horizon session count, not
    * the event count. Each batch folds the new rows in by interval
    * merge: rows and existing sessions sort by start and coalesce while
    * `next.start - prev.last < gap` (a row landing INSIDE a session is
    * within gap of its neighbors by construction, and a row BRIDGING
    * two sessions merges them — the semantics Spark's own streaming
    * `session_window` state implements). A session is emitted exactly
    * when the watermark passes `last + gap`: any surviving row is
    * either late (dropped against the watermark, mirroring
    * `dropDuplicatesWithinWatermark`) or ≥ gap away (a new session), so
    * no emission can ever need retraction. The event-time timeout
    * re-invokes each key when the watermark passes its earliest
    * closable session, so idle keys' state drains without new input
    * and emission needs no sentinel rows of its own. */
  def gapSessions(
      events: org.apache.spark.sql.Dataset[SessEvent],
      gapUs: Long): org.apache.spark.sql.Dataset[SessionOut] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[SessEvent], state: GroupState[SessState]) =>
          val wmMs = state.getCurrentWatermarkMs()
          val wmUs = wmMs * 1000L
          val prior = state.getOption.map(_.sessions).getOrElse(Nil)
          // late rows (older than the watermark) cannot extend any
          // closable session without breaking append-mode emissions —
          // drop them, exactly as the engine's stateful ops do
          val fresh = rows.filter(_.ts_us >= wmUs)
            .map(e => SessAcc(e.ts_us, e.ts_us, 1L)).toList
          val merged = GapMerge.merge(prior, fresh, gapUs)
          val (closed, open) = GapMerge.split(merged, gapUs, wmUs)
          if (open.isEmpty) state.remove()
          else {
            state.update(SessState(open))
            // wake this key when its earliest session becomes closable
            state.setTimeoutTimestamp(GapMerge.nextTimerMs(open, gapUs, wmMs))
          }
          closed.iterator.map(s =>
            SessionOut(uid, s.start_us, s.last_us, s.n))
      }
  }

  /** ST4: the STREAMED windowed funnel (MATCH_RECOGNIZE shape) — the
    * state-store twin of the batch `events_sequence_match` query
    * (signup → view → purchase within `windowUs` of the first signup).
    *
    * Greedy-earliest matching is only correct over a time-ORDERED fold,
    * but streams arrive out of order — so state is a WATERMARK REORDER
    * BUFFER plus an O(1) step machine: new rows buffer (late rows older
    * than the watermark drop, mirroring the engine's stateful ops);
    * whenever the watermark passes buffered event times those events
    * fold into the machine in exact (ts_us, event_id) order, and the
    * machine is all that survives them. Buffered state is bounded by
    * each key's in-horizon traffic (watermark delay × rate), NOT its
    * history; the machine itself is O(1). An event-time timeout re-arms
    * to the earliest buffered event so folds fire as the watermark
    * advances without new input. Each fold emits a snapshot; because
    * per-user snapshots strictly grow (`frontier_us`), the sink settles
    * multi-batch runs by keeping the max-frontier row — under the
    * AvailableNow oracle gate exactly one fold (and one snapshot) per
    * user happens anyway. Machine state persists for the stream's
    * lifetime (it carries a lifetime event count — the same per-user
    * bound the batch groupBy holds); a production deployment would age
    * keys out by business TTL. Note the divergence bound that comes
    * with that TTL world: rows older than the watermark are DROPPED
    * before they reach the machine, so in a genuine multi-batch
    * deployment a user's lifetime `n_events` (and, if a funnel step
    * itself arrives late, `matched`) can undercount relative to the
    * batch query by exactly the late-beyond-watermark rows. Under the
    * single-replay AvailableNow oracle gate no row is late, so
    * stream == batch holds exactly there. */
  def funnelMatch(
      events: org.apache.spark.sql.Dataset[FunnelEvent],
      windowUs: Long): org.apache.spark.sql.Dataset[FunnelOut] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._

    def fold(m0: FunnelMachine, evs: Seq[(Long, Long, String)]): FunnelMachine =
      evs.sortBy(e => (e._1, e._2)).foldLeft(m0) { case (m, (us, id, tpe)) =>
        val m1 = m.copy(n = m.n + 1, frontierUs = math.max(m.frontierUs, us))
        tpe match {
          case "signup" if !m1.hasS =>
            m1.copy(sUs = us, sId = id, hasS = true)
          case "view" if m1.hasS && !m1.hasV &&
              (us > m1.sUs || (us == m1.sUs && id > m1.sId)) &&
              us <= m1.sUs + windowUs =>
            m1.copy(vUs = us, vId = id, hasV = true)
          case "purchase" if m1.hasV && !m1.matched &&
              (us > m1.vUs || (us == m1.vUs && id > m1.vId)) &&
              us <= m1.sUs + windowUs =>
            m1.copy(matched = true)
          case _ => m1
        }
      }

    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[FunnelEvent], state: GroupState[FunnelState]) =>
          val wmMs = state.getCurrentWatermarkMs()
          val wmUs = wmMs * 1000L
          val prior = state.getOption.getOrElse(
            FunnelState(FunnelMachine(0L, 0L, 0L, false, 0L, 0L, false, false, -1L), Nil))
          // late rows cannot fold without breaking the already-emitted
          // order — drop them, exactly as the engine's stateful ops do.
          // Ripeness is STRICT (< wm) while admission is inclusive
          // (>= wm): an event AT the watermark must pend, not fold
          // immediately — otherwise two at-watermark events landing in
          // different batches fold in arrival order instead of (ts, id)
          // order, diverging from the batch oracle's global sort.
          val fresh = rows.filter(_.ts_us >= wmUs)
            .map(e => (e.ts_us, e.event_id, e.event_type)).toList
          val (ripe, pending) = (prior.buf ++ fresh).partition(_._1 < wmUs)
          val machine = fold(prior.machine, ripe)
          state.update(FunnelState(machine, pending))
          if (pending.nonEmpty) {
            // wake when the earliest buffered event becomes foldable
            // (ripeness is STRICT ts < wm, and the engine fires a
            // timeout only when wm moves strictly past it — so arm at
            // floor(nextUs/1000): the first wm ms beyond it satisfies
            // wm*1000 > nextUs exactly; a premature wake is harmless,
            // the body re-splits and re-arms past the watermark)
            val nextUs = pending.map(_._1).min
            state.setTimeoutTimestamp(math.max(wmMs + 1L, nextUs / 1000L))
          }
          if (ripe.nonEmpty)
            Iterator.single(FunnelOut(uid, machine.n, machine.matched, machine.frontierUs))
          else Iterator.empty
      }
  }
}
