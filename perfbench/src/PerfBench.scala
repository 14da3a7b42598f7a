package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.ops.{ProfileTransform, Reconcile}
import graft.sources.{GraftSession, KafkaReplay, Tables}
import graft.streaming.StreamingPipeline

/** JVM side of the benchmark: runs one workload against the program's
  * public entry points and writes the raw measurements as one JSON file.
  * `perfbench/run.py` builds this, starts it, checks registry outputs
  * against the DuckDB oracle and prints the result line.
  *
  * Arguments are `--key value` pairs: workload, seed, seconds, trace (0|1),
  * work (scratch dir owned by this run), data (registry corpus dir), out
  * (result file), cpus (local[N] width), queries (comma list), records
  * (drain log size), batches (micro-batches per drain), rate (paced
  * records/s), trigger_ms (paced trigger), records_per_object (sink),
  * warmup_s (untimed warm-up of drain and floor).
  */
object PerfBench {

  final class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def int(k: String): Int = apply(k).toInt
  }

  def main(argv: Array[String]): Unit = {
    val a = new Args(argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    val work = new File(a("work")).getAbsoluteFile
    work.mkdirs()
    val cpus = a.int("cpus")
    val heap = new HeapPeak
    val spark = GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]").appName("perfbench"), cpus)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").toString)
      .config("spark.local.dir", new File(work, "tmp/spark").toString)
      .config("spark.hadoop.hadoop.tmp.dir", new File(work, "tmp/hadoop").toString)
      .config("spark.graft.signalDir", new File(work, "signals").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val run = new Run(spark, a, work, heap)
    val res = try run.workload() finally {
      spark.streams.active.foreach(q => try q.stop() catch { case NonFatal(_) => () })
    }
    val prov = Map(
      "spark_version" -> spark.version,
      "master" -> s"local[$cpus]",
      "available_processors" -> Runtime.getRuntime.availableProcessors,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "gc" -> heap.collectors.mkString(","),
      "java_version" -> sys.props("java.version"))
    spark.stop()
    Files.write(Paths.get(a("out")), Json.render(res ++ Map("provenance" -> prov)).getBytes("UTF-8"))
  }
}

/** One workload run. Every workload yields the same raw keys: set-up
  * samples, operation latencies and throughput, attempted/failed counts,
  * correctness findings and, when traced, the per-layer table and spans. */
final class Run(spark: SparkSession, a: PerfBench.Args, work: File, heap: HeapPeak) {
  private val seed = a("seed").toLong
  private val seconds = a.int("seconds")
  private val traced = a.int("trace") == 1
  private val spans = new Spans(traced)
  private val progress = new ProgressLog
  spark.streams.addListener(progress)
  private val failures = mutable.ArrayBuffer[String]()
  private var attempted = 0L
  private val layers = mutable.LinkedHashMap[String, Double]()

  private def fail(msg: String): Unit = failures.synchronized { failures += msg; () }
  private def check(ok: Boolean, msg: => String): Unit = if (!ok) fail(msg)
  private def dir(name: String): String = new File(work, name).toString
  private def fresh(name: String): String = { val f = new File(work, name); Fs.rm(f); f.toString }
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def workload(): Map[String, Any] = {
    val body = a("workload") match {
      case "ingest_drain" => ingestDrain()
      case "ingest_paced" => ingestPaced()
      case "query_floor" => registry()
      case w => sys.error(s"unknown workload $w")
    }
    Map("attempted" -> attempted, "failed_ops" -> failures.size,
      "failures" -> failures.take(50).toSeq, "peak_heap_mb" -> heap.peakMb,
      "layers" -> layers.toMap,
      "spans" -> spans.all.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "layer" -> s.layer, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    ) ++ body
  }

  // ------------------------------------------------------------ ingest

  private val Masked = "redacted@email.com"
  private val SinkSchema = StructType(Seq(
    StructField("user_id", StringType), StructField("email", StringType),
    StructField("raw_password_hash", StringType),
    StructField("internal_tracking_code", StringType)))

  private def decoded(log: String, maxPerTrigger: Option[Long]): DataFrame =
    StreamingPipeline.enforceAvroRegistry(
      StreamingPipeline.replayStream(spark, log, maxPerTrigger),
      UserGen.Registry, UserGen.ReaderJson, permissive = true)

  /** The reference pipeline: replay source -> registry decode -> SMT
    * transform, ready for a sink. */
  private def pipeline(log: String, maxPerTrigger: Option[Long]): DataFrame =
    StreamingPipeline.transformed(decoded(log, maxPerTrigger), ProfileTransform())

  private def sink(df: DataFrame, out: String, ckpt: String, trigger: Trigger): StreamingQuery =
    StreamingPipeline.jsonSinkSizedObjects(df, out, ckpt, a.int("records_per_object"), trigger)
      .start()

  private def await(q: StreamingQuery): Unit = {
    q.awaitTermination()
    q.exception.foreach(e => throw e)
  }

  /** Records [0, n) of the seed, stamped `tsMicros`, in append chunks,
    * with their ledger. */
  private def records(n: Long, tsMicros: Long): (Seq[Seq[KafkaReplay.Record]], UserGen.Ledger) = {
    val chunks = (0L until n by 20000L).map(i =>
      UserGen.batch(seed, i, math.min(n, i + 20000L), tsMicros))
    (chunks.map(_._1), chunks.map(_._2).foldLeft(UserGen.EmptyLedger)(_ + _))
  }

  /** Append `chunks` to a fresh log. */
  private def writeLog(log: String, chunks: Seq[Seq[KafkaReplay.Record]]): Unit = {
    Fs.rm(new File(log))
    chunks.foreach(recs => spans("append", "sources") { KafkaReplay.append(log, recs) })
  }

  private def logDigest(log: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    new File(log).listFiles().filter(_.getName.startsWith("partition-")).sortBy(_.getName)
      .foreach(f => md.update(Files.readAllBytes(f.toPath)))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Source-vs-sink audit through Reconcile, as the reference verifier runs
    * it; returns status -> count. */
  private def audit(log: String, out: String): Map[String, Long] = {
    val raw = spark.read.format(KafkaReplay.ShortName).option("path", log)
      .option("topic", "users").load()
      .select(col("key").cast("string").as("key"), col("value"), col("topic"),
        col("partition"), col("offset"), col("timestamp"))
    val src = StreamingPipeline.enforceAvroRegistry(raw, UserGen.Registry,
      UserGen.ReaderJson, permissive = true)
      .filter(col("v").isNotNull)
      .select(col("v.user_id").as("user_id"), col("v.first_name").as("first_name"),
        col("v.last_name").as("last_name"))
    val snk = spark.read.schema(SinkSchema).json(out)
      .select(col("user_id"), col("email"), col("raw_password_hash"))
    val leaked: Column = col("raw_password_hash").isNotNull
    Reconcile.summary(Reconcile.audit(src, snk, "user_id",
      !ProfileTransform().filterPredicate, leaked))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** The audit summary of one pipeline run against the generator's ledger. */
  private def checkAudit(tag: String, summary: Map[String, Long], ledger: UserGen.Ledger): Unit = {
    for (s <- Seq("MISSING", "ORPHAN", "FAILED"))
      check(summary.getOrElse(s, 0L) == 0L, s"$tag: audit $s=${summary.getOrElse(s, 0L)}")
    check(summary.getOrElse("FILTERED (expected)", 0L) == ledger.filtered,
      s"$tag: FILTERED=${summary.getOrElse("FILTERED (expected)", 0L)} ledger=${ledger.filtered}")
    check(summary.getOrElse("OK", 0L) == ledger.kept,
      s"$tag: OK=${summary.getOrElse("OK", 0L)} ledger kept=${ledger.kept}")
  }

  /** Sink contents and dead letters of one pipeline run against the ledger:
    * no duplicates, every email masked, no dropped field, every
    * undecodable record accounted for. */
  private def checkSink(tag: String, log: String, out: String, ledger: UserGen.Ledger): Unit = {
    val r = spark.read.schema(SinkSchema).json(out).agg(
      count(lit(1)), countDistinct(col("user_id")),
      sum(when(col("email").isNull || col("email") =!= lit(Masked), 1).otherwise(0)),
      sum(when(col("internal_tracking_code").isNotNull, 1).otherwise(0))).head()
    check(r.getLong(0) == ledger.kept, s"$tag: sink rows ${r.getLong(0)} != kept ${ledger.kept}")
    check(r.getLong(0) == r.getLong(1), s"$tag: ${r.getLong(0) - r.getLong(1)} duplicate sink rows")
    check(r.isNullAt(2) || r.getLong(2) == 0L, s"$tag: ${r.get(2)} unmasked emails in sink")
    check(r.isNullAt(3) || r.getLong(3) == 0L, s"$tag: ${r.get(3)} leaked tracking codes")
    val dead = spark.read.format(KafkaReplay.ShortName).option("path", log)
      .option("topic", "users").load()
    val dl = StreamingPipeline.avroRegistryDeadLetters(dead, UserGen.Registry, UserGen.ReaderJson).count()
    check(dl == ledger.deadLetters, s"$tag: dead letters $dl != ledger ${ledger.deadLetters}")
  }

  /** Latencies (ms) of the micro-batches of a closed-loop drain started
    * at `wall0`: a batch is due when the batch before it committed (the
    * first one at the drain's start) and done at its own commit. */
  private def batchLatencies(id: String, wall0: Long): Seq[Double] = {
    Listeners.flush(spark)
    val commits = progress.forQuery(id).map(_.commitMs)
    (wall0 +: commits).zip(commits).map { case (due, done) => (done - due).toDouble }
  }

  /** (latency ms, record count) per committed batch of query `id`, for a
    * log whose record `i` sits at offset i / 4 of partition i % 4 and was
    * due at `dueMs(i)`. Records never committed are returned as missing. */
  private def recordLatencies(id: String, from: Long, until: Long, dueMs: Long => Long)
      : (Seq[(Double, Long)], Long) = {
    Listeners.flush(spark)
    val batches = progress.forQuery(id).filter(_.end.nonEmpty)
    val out = mutable.ArrayBuffer[(Double, Long)]()
    var missing = 0L
    // commit time of the first batch whose end offset passes (p, o)
    val ends = batches.map(b => (b.commitMs, b.end)).toArray
    def commitOf(p: Int, o: Long): Option[Long] = {
      var lo = 0; var hi = ends.length
      while (lo < hi) {
        val mid = (lo + hi) / 2
        if (ends(mid)._2.getOrElse(p, 0L) > o) hi = mid else lo = mid + 1
      }
      if (lo < ends.length) Some(ends(lo)._1) else None
    }
    var i = from
    while (i < until) {
      commitOf((i % UserGen.Partitions).toInt, i / UserGen.Partitions) match {
        case Some(c) => out += (((c - dueMs(i)).toDouble, 1L))
        case None => missing += 1
      }
      i += 1
    }
    (out.groupBy(_._1).map { case (v, xs) => v -> xs.map(_._2).sum }.toSeq, missing)
  }

  /** Micro-batch phases (median per batch with input) of the batches in
    * `facts`, which ran `units` units of work. */
  private def streamPhases(facts: Seq[BatchFact], units: Double): Unit = {
    val live = facts.filter(_.rows > 0)
    for (ph <- Seq("addBatch", "queryPlanning", "walCommit", "commitOffsets",
        "triggerExecution", "latestOffset"))
      layers(s"streaming.${ph}_ms") =
        if (live.isEmpty) 0.0 else Stats.median(live.map(_.durations.getOrElse(ph, 0L).toDouble))
    layers("streaming.batches") = live.size / math.max(units, 1e-9)
    layers("streaming.batch_records_p50") =
      if (live.isEmpty) 0.0 else Stats.median(live.map(_.rows.toDouble))
    layers("sources.lag_records_max") =
      if (facts.isEmpty) 0.0
      else facts.map(f => (f.latest.values.sum - f.end.values.sum).toDouble).max
  }

  /** Marginal cost of each pipeline layer: drains of `log` cut after the
    * source, after decode, after transform, and whole (with the sink).
    * Each prefix runs `reps` times interleaved; medians are differenced. */
  private def prefixLayers(log: String, maxPerTrigger: Option[Long], reps: Int, n: Long): Unit = {
    def noop(df: DataFrame, tag: String): Unit = {
      val q = df.writeStream.format("noop").option("checkpointLocation", fresh(s"prefix/$tag.ckpt"))
        .trigger(Trigger.AvailableNow()).start()
      await(q)
    }
    val prefixes: Seq[(String, String, () => Unit)] = Seq(
      ("read", "sources", () => noop(StreamingPipeline.replayStream(spark, log, maxPerTrigger), "read")),
      ("decode", "avro", () => noop(decoded(log, maxPerTrigger), "decode")),
      ("transform", "ops", () => noop(pipeline(log, maxPerTrigger), "transform")),
      ("sink", "streaming", () => await(sink(pipeline(log, maxPerTrigger), fresh("prefix/out"),
        fresh("prefix/sink.ckpt"), Trigger.AvailableNow()))))
    val t = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    for (_ <- 1 to reps; (name, layer, f) <- prefixes) {
      val t0 = System.nanoTime()
      spans(s"prefix.$name", layer)(f())
      t.getOrElseUpdate(name, mutable.ArrayBuffer()) += secs(t0)
    }
    val m = t.map { case (k, v) => k -> Stats.median(v.toSeq) }
    layers("sources.read_s") = m("read")
    layers("avro.decode_s") = m("decode") - m("read")
    layers("ops.transform_s") = m("transform") - m("decode")
    layers("streaming.sink_s") = m("sink") - m("transform")
    val files = Fs.files(new File(dir("prefix/out"))).filter(_.getName.endsWith(".json"))
    layers("streaming.sink_files") = files.size.toDouble
    layers("streaming.sink_bytes_per_record") =
      files.map(_.length).sum.toDouble / math.max(1L, n)
  }

  private def ledgerLayers(l: UserGen.Ledger): Unit = {
    layers("avro.dead_letter_frac") = l.deadLetters.toDouble / math.max(1L, l.total - l.tombstones)
    layers("ops.filtered_frac") = l.filtered.toDouble / math.max(1L, l.live)
  }

  private def ingestDrain(): Map[String, Any] = {
    val n = a("records").toLong
    val maxPer = Some(math.max(1L, (n + a.int("batches") - 1) / a.int("batches")))
    val base = 1704067200000000L // 2024-01-01T00:00:00Z in microseconds
    val (chunks, ledger) = records(n, base)
    // four untimed copies of the seeded log are written first, so the
    // appends timed below run warm
    for (_ <- 1 to 4) { writeLog(dir("log0"), chunks); Fs.rm(new File(dir("log0"))) }
    // set-up: append the seeded log to a fresh dir; nine times, since one
    // append takes only tens of milliseconds
    val setup = mutable.ArrayBuffer[Double]()
    val digests = mutable.ArrayBuffer[String]()
    for (k <- 1 to 9) {
      if (k > 1) Fs.rm(new File(dir(s"log${k - 1}")))
      val t0 = System.nanoTime()
      spans("setup.write_log", "sources") { writeLog(dir(s"log$k"), chunks) }
      setup += secs(t0)
      digests += logDigest(dir(s"log$k"))
    }
    check(digests.distinct.size == 1, s"same seed wrote different logs: $digests")
    val log = dir("log9")
    // warm-up drains and audits of the same log for warmup_s, outside the
    // timed part: the JIT is still warming, and the first drains of a run
    // are ~20 % slower than later ones
    val warmEnd = System.nanoTime() + a.int("warmup_s") * 1000000000L
    var w = 0
    while (w == 0 || System.nanoTime() < warmEnd) {
      await(sink(pipeline(log, maxPer), fresh("warm/out"), fresh("warm/ckpt"), Trigger.AvailableNow()))
      checkAudit(s"warm-up drain $w", audit(log, dir("warm/out")), ledger)
      w += 1
    }
    heap.reset()

    val drainS = mutable.ArrayBuffer[Double]()
    val auditS = mutable.ArrayBuffer[Double]()
    val lat = mutable.ArrayBuffer[Seq[Double]]()
    val iterTraced = mutable.ArrayBuffer[Double]()
    val iterPlain = mutable.ArrayBuffer[Double]()
    val c = new LayerCounters
    var countedIters = 0
    var lastSummary = Map.empty[String, Long]
    var out = ""
    val timedIds = mutable.ArrayBuffer[String]()
    val tEnd = System.nanoTime() + seconds * 1000000000L
    var it = 0
    while (it < 2 || System.nanoTime() < tEnd) {
      // traced runs alternate listener-on and listener-off iterations so
      // the tracing overhead is measured inside the same run
      val on = traced && it % 2 == 0
      out = fresh("run/out")
      val ckpt = fresh("run/ckpt")
      attempted += 1
      if (on) Listeners.register(spark, c)
      try {
        val wall0 = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val q = spans("drain", "streaming") {
          val q = sink(pipeline(log, maxPer), out, ckpt, Trigger.AvailableNow())
          await(q)
          q
        }
        val d = secs(t0)
        val t1 = System.nanoTime()
        val summary = spans("audit", "ops") { audit(log, out) }
        val au = secs(t1)
        lastSummary = summary
        if (on) { Listeners.unregister(spark, c); countedIters += 1 }
        drainS += d; auditS += au
        timedIds += q.id.toString
        (if (on) iterTraced else iterPlain) += d + au
        lat += batchLatencies(q.id.toString, wall0)
        val committed = progress.forQuery(q.id.toString).lastOption.map(_.end.values.sum)
        check(committed.contains(n), s"drain $it: committed offsets $committed != $n")
        heap.sample()
        checkAudit(s"drain $it", summary, ledger)
      } catch { case NonFatal(e) => fail(s"drain $it: $e") }
      it += 1
    }
    try checkSink(s"drain ${it - 1}", log, out, ledger)
    catch { case NonFatal(e) => fail(s"drain ${it - 1} sink check: $e") }
    if (traced) {
      layers ++= c.summary(countedIters)
      streamPhases(timedIds.toSeq.flatMap(progress.forQuery), timedIds.size)
      layers("ops.audit_s") = Stats.median(auditS.toSeq)
      prefixLayers(log, maxPer, 3, n)
      ledgerLayers(ledger)
      layers("trace.overhead_frac") = Stats.median(iterTraced.toSeq) / Stats.median(iterPlain.toSeq) - 1
    }
    // percentiles per drain, and their medians over the drains, so one
    // slow drain does not move the result
    def pct(p: Double) = Stats.median(lat.toSeq.map(Stats.pct(_, p)))
    Map("setup_s" -> setup.toSeq,
      "latency_samples" -> Map("count" -> lat.map(_.size).sum, "p50_ms" -> pct(50), "p90_ms" -> pct(90)),
      "throughput_per_s" -> n / Stats.median(drainS.toSeq),
      "drain_s" -> drainS.toSeq, "audit_s" -> auditS.toSeq,
      "ledger" -> ledger.toMap, "log_sha256" -> digests.head, "audit_summary" -> lastSummary)
  }

  /** Latency percentiles of each paced sub-window, reported as their
    * medians over the sub-windows so one stalled stretch does not move the
    * result. */
  private def summarize(units: Seq[Seq[(Double, Long)]]): Map[String, Any] = {
    val live = units.filter(_.nonEmpty)
    def pct(p: Double) = Stats.median(live.map(u => Stats.weightedPct(u, p)))
    Map("units" -> live.size, "count" -> live.map(_.map(_._2).sum).sum,
      "p50_ms" -> pct(50), "p90_ms" -> pct(90), "p99_ms" -> pct(99))
  }

  private def ingestPaced(): Map[String, Any] = {
    val rate = a.int("rate")
    val triggerMs = a.int("trigger_ms")
    val tickMs = 20
    val perTick = math.max(1, rate * tickMs / 1000)
    val preroll = perTick * 25L
    val setup = mutable.ArrayBuffer[Double]()
    var q: StreamingQuery = null
    var log = ""
    val c = new LayerCounters
    // set-up: fresh log with a pre-roll, stream started, pre-roll committed;
    // seven times, the last one stays running for the timed part
    val reps = 7
    for (k <- 1 to reps) {
      if (q != null) q.stop()
      // a stream plans its batches in a session cloned at start, which
      // keeps the listeners registered by then
      if (traced && k == reps) Listeners.register(spark, c)
      log = fresh(s"log$k")
      val pre = records(preroll, System.currentTimeMillis() * 1000)._1
      val t0 = System.nanoTime()
      spans("setup.start_stream", "streaming") {
        writeLog(log, pre)
        q = sink(pipeline(log, None), fresh(s"out$k"), fresh(s"ckpt$k"),
          Trigger.ProcessingTime(triggerMs.toLong))
        waitCommitted(q, preroll, 60000)
      }
      setup += secs(t0)
    }
    val out = dir(s"out$reps")
    heap.reset()
    Listeners.flush(spark)
    c.reset()

    // open-loop generator: tick k is due at start + k * tickMs whatever
    // the pipeline does; a late tick is appended as soon as possible
    val ticks = seconds * 1000 / tickMs
    val total = preroll + ticks.toLong * perTick
    val lateMs = new Array[Long](ticks)
    val appendedAt = new Array[Long](ticks)
    var genLedger = UserGen.EmptyLedger
    // the first tick is due half a tick after an instant of the trigger's
    // wall-clock grid (ProcessingTime fires at multiples of its interval),
    // so every run splits the ticks over batches the same way
    val soonest = System.currentTimeMillis() + 50
    val startMs = soonest - soonest % triggerMs + triggerMs + tickMs / 2
    val gen = new Thread(() => {
      var k = 0
      while (k < ticks) {
        val due = startMs + k.toLong * tickMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        lateMs(k) = System.currentTimeMillis() - due
        val from = preroll + k.toLong * perTick
        val (recs, l) = UserGen.batch(seed, from, from + perTick, due * 1000)
        spans("gen.append", "sources") { KafkaReplay.append(log, recs) }
        appendedAt(k) = System.currentTimeMillis()
        genLedger += l
        k += 1
      }
    }, "perfbench-generator")
    gen.setDaemon(true)
    gen.start()
    gen.join()
    val caughtUp = waitCommitted(q, total, 20000)
    val windowEnd = System.currentTimeMillis()
    heap.sample()
    q.stop()
    if (traced) Listeners.unregister(spark, c)
    val dueOf = (i: Long) => startMs + ((i - preroll) / perTick) * tickMs
    // three sub-windows of the generator's schedule, one latency unit each
    val thirds = (0 to 3).map(k => preroll + (ticks.toLong * k / 3) * perTick)
    val parts = thirds.zip(thirds.tail).map { case (from, until) =>
      recordLatencies(q.id.toString, from, until, dueOf) }
    val lat = parts.map(_._1)
    val missing = parts.map(_._2).sum
    attempted += total - preroll
    for (_ <- 0L until missing) fail("paced record never committed")
    check(caughtUp, s"paced: pipeline did not catch up within 20 s")
    val facts = progress.forQuery(q.id.toString).filter(f => f.commitMs >= startMs)
    val lastCommit = if (facts.isEmpty) windowEnd else facts.map(_.commitMs).max
    val committed = lat.flatten.map(_._2).sum
    // correctness of the whole log (pre-roll plus generated records)
    val ledger = UserGen.batch(seed, 0, preroll, 0)._2 + genLedger
    val tAudit = System.nanoTime()
    try {
      val summary = spans("audit", "ops") { audit(log, out) }
      layers("ops.audit_s") = secs(tAudit)
      checkAudit("paced", summary, ledger)
      checkSink("paced", log, out, ledger)
    } catch { case NonFatal(e) => fail(s"paced audit: $e") }
    if (traced) {
      val windowS = (lastCommit - startMs) / 1000.0
      layers ++= c.summary(windowS)
      streamPhases(facts, windowS)
      // backlog: records the generator had appended by each commit that
      // the commit did not include
      layers("sources.lag_records_max") = facts.map { f =>
        preroll + appendedAt.count(t => t > 0 && t <= f.commitMs) * perTick.toLong -
          f.end.values.sum
      }.foldLeft(0L)(math.max).toDouble
      layers("streaming.busy_frac") =
        facts.map(_.durations.getOrElse("triggerExecution", 0L)).sum / 1000.0 / windowS
      layers("gen.late_ms_max") = lateMs.max.toDouble
      layers("gen.records_offered") = (total - preroll).toDouble
      ledgerLayers(ledger)
      prefixLayers(log, None, 2, total)
      layers("trace.overhead_frac") = tracedOverheadPaced(rate, triggerMs)
    }
    Map("setup_s" -> setup.toSeq,
      "latency_samples" -> summarize(lat),
      "throughput_per_s" -> committed / math.max(1e-3, (lastCommit - startMs) / 1000.0),
      "gen_late_ms_max" -> lateMs.max, "ledger" -> ledger.toMap)
  }

  /** Paced overhead: short untraced and traced windows back to back. */
  private def tracedOverheadPaced(rate: Int, triggerMs: Int): Double = {
    def window(on: Boolean): Double = {
      val log = fresh("ovh/log")
      val c = new LayerCounters
      val per = math.max(1, rate / 10)
      writeLog(log, records(per.toLong, 0)._1)
      val q = sink(pipeline(log, None), fresh("ovh/out"), fresh("ovh/ckpt"),
        Trigger.ProcessingTime(triggerMs.toLong))
      waitCommitted(q, per.toLong, 30000)
      if (on) Listeners.register(spark, c)
      val t0 = System.nanoTime()
      var i = 1
      while (i <= 4) {
        val (recs, _) = UserGen.batch(seed, i.toLong * per, (i + 1).toLong * per, 0)
        KafkaReplay.append(log, recs)
        waitCommitted(q, (i + 1).toLong * per, 30000)
        i += 1
      }
      val s = secs(t0)
      if (on) Listeners.unregister(spark, c)
      q.stop()
      s
    }
    val plain = Seq(window(false), window(false))
    val on = Seq(window(true), window(true))
    Stats.median(on) / Stats.median(plain) - 1
  }

  /** Poll until `q` has committed `n` records of the log, or timeout. */
  private def waitCommitted(q: StreamingQuery, n: Long, timeoutMs: Long): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def done: Boolean = Option(q.lastProgress).exists(p =>
      p.sources.headOption.exists(s => Offsets.parse(s.endOffset).values.sum >= n))
    while (!done && System.currentTimeMillis() < deadline && q.isActive) Thread.sleep(10)
    q.exception.foreach(e => throw e)
    done
  }

  // ---------------------------------------------------------- registry

  /** Copy `k` of the seeded corpus (written by run.py before the JVM
    * starts): distinct paths, so no copy reuses another's file listings. */
  private def corpus(k: Int): String = s"${a("data")}_r$k"

  private def runQuery(name: String, corpus: String, outDir: Option[String]): Double = {
    val t0 = System.nanoTime()
    spans(s"query:$name", "queries") {
      val df = SparkEntry.queries(name)(spark, corpus)
      outDir match {
        case Some(o) => df.write.mode("overwrite").parquet(o)
        case None => df.write.format("noop").mode("overwrite").save()
      }
    }
    val s = secs(t0)
    spark.catalog.clearCache()
    s
  }

  private def registry(): Map[String, Any] = {
    val names = a("queries").split(",").toSeq.filter(_.nonEmpty)
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"not in the registry: $unknown")
    // check pass: cold, on its own corpus copy, outputs kept for the oracle
    val outputs = mutable.LinkedHashMap[String, String]()
    val tCheck = System.nanoTime()
    for (n <- names) {
      val o = fresh(s"outputs/$n")
      try { spans(s"check:$n", "queries") { runQuery(n, corpus(0), Some(o)) }; outputs(n) = o }
      catch { case NonFatal(e) => fail(s"$n (check pass): $e") }
    }
    val checkS = secs(tCheck)
    // set-up: the first load and scan of every corpus table through the
    // program's loader, on a fresh copy, three times; the last copy serves
    // the timed part
    val setup = mutable.ArrayBuffer[Double]()
    for (k <- 1 to 3) {
      val t0 = System.nanoTime()
      spans("setup.load_tables", "sources") {
        for (t <- Tables.names if new File(s"${corpus(k)}/$t.parquet").exists)
          Tables.load(spark, corpus(k), t).write.format("noop").mode("overwrite").save()
      }
      setup += secs(t0)
    }
    // warm-up: untimed noop passes, so the timed window starts after the
    // steepest part of the JIT warm-up (a pass is ~30 % slower at first)
    val warmEnd = System.nanoTime() + a.int("warmup_s") * 1000000000L
    while (System.nanoTime() < warmEnd) for (n <- names) {
      attempted += 1
      try runQuery(n, corpus(3), None) catch { case NonFatal(e) => fail(s"$n (warm-up): $e") }
    }
    heap.reset()
    val perQuery = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    val passTraced = mutable.ArrayBuffer[Double]()
    val passPlain = mutable.ArrayBuffer[Double]()
    val c = new LayerCounters
    var countedPasses = 0
    val rnd = new scala.util.Random(seed)
    val timedFromMs = System.currentTimeMillis()
    val tEnd = System.nanoTime() + seconds * 1000000000L
    var pass = 0
    while (pass < (if (traced) 2 else 1) || System.nanoTime() < tEnd) {
      val on = traced && pass % 2 == 0
      if (on) Listeners.register(spark, c)
      var passS = 0.0
      for (n <- rnd.shuffle(names)) {
        attempted += 1
        try {
          val s = runQuery(n, corpus(3), None)
          perQuery.getOrElseUpdate(n, mutable.ArrayBuffer()) += s
          passS += s
        } catch { case NonFatal(e) => fail(s"$n: $e") }
      }
      heap.sample()
      if (on) { Listeners.unregister(spark, c); countedPasses += 1 }
      (if (on) passTraced else passPlain) += passS
      pass += 1
    }
    // latency percentiles over every timed execution; throughput over the
    // per-query medians, so one stalled execution does not move it
    val all = perQuery.values.flatten.map(_ * 1000).toSeq
    val medians = perQuery.values.map(xs => Stats.median(xs.toSeq)).toSeq
    if (traced) {
      layers ++= c.summary(countedPasses)
      streamPhases(progress.facts.asScala.toSeq.filter(_.commitMs >= timedFromMs), pass)
      for ((n, xs) <- perQuery) layers(s"queries.${n}_s") = Stats.median(xs.toSeq)
      layers("trace.overhead_frac") = Stats.median(passTraced.toSeq) / Stats.median(passPlain.toSeq) - 1
    }
    Map("setup_s" -> setup.toSeq,
      "latency_samples" -> Map("count" -> all.size,
        "p50_ms" -> Stats.pct(all, 50), "p90_ms" -> Stats.pct(all, 90)),
      "throughput_per_s" -> medians.size / math.max(1e-9, medians.sum),
      "per_query_s" -> perQuery.map { case (k, v) => k -> v.toSeq }.toMap,
      "outputs" -> outputs.toMap, "passes" -> pass, "check_pass_s" -> checkS,
      "oracle_sql" -> names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap)
  }
}
