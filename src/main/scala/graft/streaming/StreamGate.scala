package graft.streaming

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Runs a bounded (AvailableNow) stream with the state-store partition
  * count sized to the STATE, not to the session's batch shuffle
  * default.
  *
  * A stateful streaming query creates one state-store instance per
  * shuffle partition, fixed at the query's first batch, and every
  * micro-batch pays a per-instance lifecycle cost (provider init,
  * snapshot, commit files — RocksDB instances are the extreme case)
  * that is INDEPENDENT of how many rows the instance holds. At the
  * oracle-gate replay scale that fixed cost dominates: 32 instances ×
  * (data batch + no-data watermark batches) of file churn was most of
  * the 3.8–4.6 s the heavier `_streamed` queries cost in the round-9
  * bench (VERDICT r9 ask #5). The default here keeps a handful of
  * instances — still exercising cross-partition state movement — and a
  * production deployment whose state actually fills executors raises
  * `spark.graft.streamStatePartitions` to match its state volume (the
  * same sizing call as `spark.sql.shuffle.partitions` itself; Spark
  * cannot re-partition existing state, so pick it for the lifetime of
  * the checkpoint).
  *
  * Correctness is unaffected: partition count changes where keys live,
  * never what the aggregation emits (stream==batch equality over every
  * `_streamed` query is the standing oracle gate).
  *
  * Two entry points. [[collect]] is THE way to run a bounded stream for
  * its rows: every `_streamed` registry query goes through it, and it is
  * the only `memory`-sink call in the program. [[runToCompletion]] is for
  * streams whose sink does its own work (`foreachBatch` upserts) and
  * yields no rows to read back.
  */
object StreamGate {

  /** Session conf key for the per-query state partition count. */
  val statePartitionsKey = "spark.graft.streamStatePartitions"

  /** Session conf key overriding where gate checkpoints live. */
  val checkpointDirKey = "spark.graft.streamCheckpointDir"

  private val shuffleKey = "spark.sql.shuffle.partitions"
  private val ckptConfKey = "spark.sql.streaming.checkpointLocation"
  private val noDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"

  /** RAM-backed scratch for EPHEMERAL gate checkpoints. A bounded
    * replay's checkpoint is write-only bookkeeping that dies with the
    * query, yet every state-store commit fsyncs delta files through
    * it — the stream-debug receipts showed `commitTimeMs` (32+ store
    * instances × per-batch delta writes, RocksDB zips in the extreme)
    * as the dominant fixed cost of the `_streamed` oracle gate. Local
    * disk buys those writes nothing, so land them on tmpfs when the
    * host has one. A PRODUCTION stream whose checkpoint is its
    * recovery story keeps a durable DFS location — this helper only
    * redirects queries that did not specify their own
    * `checkpointLocation`, and `spark.graft.streamCheckpointDir`
    * overrides the probe. */
  private def scratchBase(spark: SparkSession): Option[java.io.File] =
    spark.conf.getOption(checkpointDirKey).map(new java.io.File(_))
      .orElse(Some(new java.io.File("/dev/shm")).filter(d => d.isDirectory && d.canWrite))
      .map(new java.io.File(_, "graft-gate-ckpt"))

  /** Run `df` to completion (AvailableNow) into a `memory` sink and
    * return its rows, under [[runToCompletion]]'s scoped confs
    * (`skipNoDataBatch` and `extraConfs` pass through unchanged).
    *
    * The query is named `label_<uuid>`, so `SPARK_GRAFT_STREAM_DEBUG`
    * lines still name the caller. The memory sink registers a session
    * temp view under that name; it is dropped before returning, also
    * when the stream fails. Left registered, every call would pin its
    * whole result in driver heap under a view nobody reads again, for
    * the life of the session (each Bench pass, each Verify run). The
    * returned DataFrame is resolved BEFORE the drop: its analyzed plan
    * holds the sink itself, not the view name, so it keeps reading the
    * same rows after the view is gone. */
  def collect(label: String, df: DataFrame, outputMode: String = "append",
      skipNoDataBatch: Boolean = false,
      extraConfs: Map[String, String] = Map.empty): DataFrame = {
    val spark = df.sparkSession
    val name = label + "_" + java.util.UUID.randomUUID().toString.replace("-", "")
    try {
      runToCompletion(spark, skipNoDataBatch, extraConfs) {
        df.writeStream.format("memory").queryName(name)
          .outputMode(outputMode)
          .trigger(Trigger.AvailableNow())
          .start()
      }
      spark.table(name)
    } finally spark.catalog.dropTempView(name)
  }

  /** Start a stream with state-sized shuffle partitions and wait for it
    * to finish. The overrides are scoped to the `start` call — Spark
    * clones the session (and its conf) when the query starts, so the
    * session's batch defaults are restored before anything else plans.
    *
    * `skipNoDataBatch` disables the trailing no-data micro-batch for
    * streams whose OUTPUT provably does not depend on it — an
    * append-mode stream-stream INNER join emits every match inside the
    * data batch itself; the no-data batch only evicts state that the
    * checkpoint teardown is about to delete anyway. Leave it enabled
    * (default) for anything watermark-finalized: outer joins, windowed
    * or session aggregations, and dedup-with-watermark all emit their
    * last rows FROM that batch.
    *
    * `extraConfs` are applied INSIDE the same locked set→start→restore
    * window as the gate's own overrides — the vehicle for per-query
    * session confs like the RocksDB state-store provider, whose
    * set/restore OUTSIDE the lock races concurrent gate threads (one
    * thread's restore landing between another's set and start strips
    * the provider from that query, and the later restore then pins the
    * wrong value on the session permanently). */
  def runToCompletion(
      spark: SparkSession, skipNoDataBatch: Boolean = false,
      extraConfs: Map[String, String] = Map.empty)(
      start: => StreamingQuery): Unit = {
    val scratch = scratchBase(spark).map { base =>
      val d = new java.io.File(base, java.util.UUID.randomUUID().toString)
      d.mkdirs(); d
    }
    // Session conf is SESSION-global and the gate harness starts streams
    // from a thread pool (Verify): without serializing the set→start→
    // restore window, stream B can capture stream A's checkpoint conf,
    // and A's teardown then deletes B's live state mid-run. Only the
    // start window is locked — awaitTermination (the long part) runs
    // fully concurrent. Residual exposure: a BATCH query planned on
    // another thread inside this (short, start-only) window picks up
    // the state-sized shuffle partition count — a bounded perf wobble,
    // never a correctness issue, and unavoidable without a per-query
    // conf surface Spark does not expose for state sizing.
    val q = try StreamGate.synchronized {
      val n = spark.conf.getOption(statePartitionsKey).getOrElse("8")
      val priorShuffle = spark.conf.getOption(shuffleKey)
      val priorCkpt = spark.conf.getOption(ckptConfKey)
      val priorNoData = spark.conf.getOption(noDataKey)
      val priorExtra = extraConfs.keys.map(k => k -> spark.conf.getOption(k)).toMap
      spark.conf.set(shuffleKey, n)
      scratch.foreach(d => spark.conf.set(ckptConfKey, d.getAbsolutePath))
      if (skipNoDataBatch) spark.conf.set(noDataKey, "false")
      extraConfs.foreach { case (k, v) => spark.conf.set(k, v) }
      def restore(key: String, prior: Option[String]): Unit = prior match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
      try start
      finally {
        restore(shuffleKey, priorShuffle)
        restore(ckptConfKey, priorCkpt)
        restore(noDataKey, priorNoData)
        priorExtra.foreach { case (k, prior) => restore(k, prior) }
      }
    } catch { case e: Throwable =>
      // a failed start leaves no query to tear the scratch down
      scratch.foreach(FileUtils.deleteQuietly)
      throw e
    }
    try q.awaitTermination()
    finally scratch.foreach(FileUtils.deleteQuietly)
    // env-gated receipt for harness-cost investigations: batch count ×
    // per-batch duration is the fixed-overhead profile of a gate run
    if (sys.env.contains("SPARK_GRAFT_STREAM_DEBUG"))
      q.recentProgress.foreach { p =>
        System.err.println(s"[stream-debug] ${q.name} batch=${p.batchId} " +
          s"rows=${p.numInputRows} ms=${p.batchDuration} " +
          s"addBatch=${Option(p.durationMs.get("addBatch")).getOrElse(-1L)} " +
          s"getBatch=${Option(p.durationMs.get("getBatch")).getOrElse(-1L)} " +
          s"walCommit=${Option(p.durationMs.get("walCommit")).getOrElse(-1L)} " +
          s"stateRows=${p.stateOperators.map(_.numRowsTotal).mkString(",")} " +
          s"commitMs=${p.stateOperators.map(_.commitTimeMs).mkString(",")}")
      }
  }
}
