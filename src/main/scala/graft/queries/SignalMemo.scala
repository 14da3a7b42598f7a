package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Per-(session, corpus dir) memo for materialized per-document SIGNAL
  * tables (perplexity scores, importance weights, Lloyd cells…): the
  * in-session analog of how a 100 TB curation run works — each signal
  * is computed once, written, and every consumer (the standalone query
  * AND the `curation_decisions` capstone) reads the materialized table
  * instead of recomputing the signal. `localCheckpoint` pins the
  * computed frame; a listener evicts a session's entries when it stops
  * so the static map never retains dead sessions (the bpeMemo pattern,
  * generalized). Builders must return a DETERMINISTIC frame — the memo
  * makes reuse, not semantics.
  *
  * The cross-RUN form: set `spark.graft.signalDir` and every cached
  * signal becomes a WRITTEN parquet table under that root
  * ([[readOrBuild]]) — the first session builds and writes, every
  * later session (or separate run) reads the same bytes back, which is
  * exactly the written-signal-tables layout of a production curation
  * pipeline (spec-asserted: a second session reuses the first's files
  * untouched, the cross-run analog of `dedup_incremental`).
  */
object SignalMemo {
  private val memo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), DataFrame]()

  /** The opt-in on-disk signal root; unset = in-session memo only. */
  val signalDirKey = "spark.graft.signalDir"

  private def signalRoot(spark: SparkSession): Option[String] =
    spark.conf.getOption(signalDirKey).filter(_.nonEmpty)

  /** Filesystem-safe name for a corpus dir. The readable replaceAll is
    * not injective ("/a/sf0.1" and "/a/sf0_1" collide), so a short md5
    * of the original string disambiguates — two distinct dirs can
    * never share signal paths. */
  private[graft] def slug(s: String): String =
    s.replaceAll("[^A-Za-z0-9]", "_") + "_" +
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString

  /** Content fingerprint of a LOCAL corpus dir — name/size/mtime of its
    * parquet files, hashed. On-disk signal paths embed it so signals
    * persisted by one run can never be read against a REGENERATED
    * corpus at the same path (the round-7 failure mode, applied to
    * derived tables: the source files changed under an unchanged dir
    * string). Non-local / missing dirs hash to a constant — the dir
    * slug still separates corpora, only regeneration detection is
    * local-only. Memoized per JVM: the corpus is immutable for a run. */
  private val fpMemo = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[graft] def sourceFingerprint(dir: String): String =
    fpMemo.computeIfAbsent(dir, d => {
      val desc =
        try {
          val p = java.nio.file.Paths.get(d)
          if (!java.nio.file.Files.isDirectory(p)) "absent"
          else {
            import scala.jdk.CollectionConverters._
            val listing = java.nio.file.Files.list(p)
            try listing.iterator().asScala
              .filter(_.toString.endsWith(".parquet"))
              .map(f => s"${f.getFileName}:${java.nio.file.Files.size(f)}:" +
                s"${java.nio.file.Files.getLastModifiedTime(f).toMillis}")
              .toSeq.sorted.mkString("|")
            finally listing.close()
          }
        } catch { case _: Throwable => "absent" }
      java.security.MessageDigest.getInstance("MD5").digest(desc.getBytes("UTF-8"))
        .take(6).map("%02x".format(_)).mkString
    })

  /** Write a signal table to disk — repartitioned on `keyCol` when
    * present so consumers joining on it co-locate (the layout the
    * capstone's four doc_id equi-joins want at 100 TB). */
  def write(df: DataFrame, path: String, keyCol: String = "doc_id"): Unit = {
    val out = if (df.columns.contains(keyCol)) df.repartition(col(keyCol)) else df
    out.write.mode("overwrite").parquet(path)
  }

  /** Best-effort sweep of STALE-fingerprint signal dirs for `dir` under
    * `root` (r15 review, same bound as the posting-table sweep): each
    * corpus regeneration changes [[sourceFingerprint]], and without a
    * sweep every regeneration leaves the previous `${slug}_${oldFp}/`
    * tree behind forever. A stale tree holds signals over data the path
    * no longer contains — a job still reading one is already reading
    * derived tables of DELETED source files, so it fails loudly instead
    * of silently serving dead signals; like [[readOrBuild]]'s
    * check-then-write, cross-process races are out of scope (a
    * deployment serializes corpus regenerations through its scheduler).
    * Once per (root, dir) per JVM; failures are logged, never fatal —
    * the sweep is hygiene, not correctness. */
  private val sweptRoots =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(String, String)]()
  private def sweepStaleSignals(spark: SparkSession, root: String, dir: String): Unit = {
    if (!sweptRoots.add((root, dir))) return
    try {
      val current = slug(dir) + "_" + sourceFingerprint(dir)
      val rp = new org.apache.hadoop.fs.Path(root)
      val fs = rp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(rp)) fs.listStatus(rp).foreach { st =>
        val n = st.getPath.getName
        // slug() is injective (md5-suffixed), so the prefix match can
        // only ever select THIS dir's generations
        if (st.isDirectory && n.startsWith(slug(dir) + "_") && n != current)
          fs.delete(st.getPath, true): Unit
      }
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[graft] stale-signal sweep under $root failed: ${e.getMessage}")
    }
  }

  /** Read the signal table at `path` if present, else build + write +
    * read back — consumers ALWAYS see the on-disk bytes, so a second
    * session/run reuses the first run's signals byte-identically.
    * "Present" means COMMITTED: the `_SUCCESS` marker (written last by
    * the committer) gates the read, so a run killed mid-write leaves a
    * directory that the next run rebuilds instead of trusting partial
    * part files. Concurrent first builds from separate processes are
    * out of scope (a real deployment serializes signal builds through
    * its scheduler); within a process [[cached]] serializes builds per
    * on-disk signal path — across sessions sharing a signalDir, not
    * just per session — so two threads can never race this
    * check-then-write. */
  def readOrBuild(spark: SparkSession, path: String)(build: => DataFrame): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS"))) write(build, path)
    graft.sources.Tables.parquet(spark, path)
  }

  /** One eviction listener per session (not per cache miss — a session
    * touches a dozen signals and the bus delivers every event to every
    * listener for the application lifetime). */
  private val evictionRegistered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[SparkSession]()

  /** One lock object per memo key: builds run OUTSIDE the map op
    * (signal builders nest — the bm25 probe memo builds on the
    * occ-index memo, and a nested computeIfAbsent on the same
    * ConcurrentHashMap throws "Recursive update") but INSIDE the
    * key's lock, so concurrent first builds of the same signal
    * serialize — with `spark.graft.signalDir` set two racing threads
    * would otherwise both pass the `_SUCCESS` check in [[readOrBuild]]
    * and write the same parquet path concurrently (committer temp-dir
    * collisions). Nested builds take DISTINCT keys' locks and the
    * nesting follows the builder dependency DAG (postings → occ → dl),
    * so lock acquisition is acyclic — no deadlock.
    *
    * The lock's first component is the SIGNAL ROOT when one is
    * configured (falling back to the session): two sessions in one JVM
    * sharing `spark.graft.signalDir` build the same on-disk path, so
    * per-session locks would let them race the `_SUCCESS`
    * check-then-write in [[readOrBuild]] exactly as two threads of one
    * session would. Root-keyed lock entries are tiny and stay for the
    * JVM's lifetime; session-keyed ones evict with the session. */
  private val buildLocks =
    new java.util.concurrent.ConcurrentHashMap[(AnyRef, String, String), Object]()

  def cached(spark: SparkSession, dir: String, name: String)
      (build: => DataFrame): DataFrame = {
    val key = (spark, dir, name)
    val hit = memo.get(key)
    if (hit != null) hit
    else buildLocks.computeIfAbsent(
        // normalize the root so "/tmp/sig" and "/tmp/sig/" (or a
        // relative spelling) take the SAME lock — unequal strings for
        // one physical dir would reopen the cross-session write race
        (signalRoot(spark)
          .map(r => java.nio.file.Paths.get(r).toAbsolutePath.normalize.toString)
          .getOrElse(spark): AnyRef, dir, name),
        _ => new Object).synchronized {
      val won = memo.get(key)
      if (won != null) won
      else {
        // Probe-side parallelism (r19 optimization round, guide §2.6):
        // a compact signal table materializes UNDER-partitioned — the
        // parquet read-back packs the written part files into
        // openCostInBytes-sized splits (a ~10 MB signal comes back as
        // 1-3 splits) and the checkpoint path pins whatever AQE
        // coalescing left — and then EVERY consumer stage inherits
        // that width: the bm25 probe ran its whole posting join +
        // score aggregation as ONE 8-second task on a 32-thread
        // executor. Re-spread once at materialization time, only when
        // the signal is under the executor's parallelism — a signal
        // already wider than the cluster target (the 100 TB case)
        // passes through untouched, so this never DOWN-partitions at
        // scale; the one extra exchange is prep-side (signals build in
        // the bench's untimed warm region) and the consumers' probes
        // parallelize. The on-disk bytes are unchanged — only this
        // session's pinned view is re-spread. The re-spread is KEYLESS
        // round-robin deliberately: its input is either a committed
        // parquet read-back or an already-checkpointed frame — both
        // deterministic under task retry — and sortBeforeRepartition
        // (default on) keeps the row-to-partition assignment stable, so
        // the SPARK-38388 retry hazard Tables.spreadForCompute warns
        // about does not apply; signals have no single natural key to
        // hash on (some are doc-keyed, some bucket-keyed, some
        // term-keyed), and round-robin spreads a compact table evenly
        // regardless.
        val target = spark.sparkContext.defaultParallelism
        // Spreading a TINY signal (a 4-row planner table) is the
        // opposite trade: every consumer stage pays `target` near-empty
        // tasks of scheduling (and `target` partial-aggregate rows
        // through each downstream exchange — ShuffleBudgetSpec caught
        // exactly that on dedup_snm_autowindow) for parallelism that
        // carries no work. Gate the re-spread on a minimum row count —
        // one cheap count job over an already-materialized frame, paid
        // once per signal per session; real signals (posting/occ
        // indexes, per-doc scores) clear it by orders of magnitude.
        def spreadWorthwhile(mat: DataFrame): Boolean =
          mat.rdd.getNumPartitions < target && mat.count() >= target * 8L
        val built = signalRoot(spark) match {
          case Some(root) =>
            // the written table IS the materialization — no checkpoint;
            // the re-spread view (when needed) is the only pinned copy
            sweepStaleSignals(spark, root, dir)
            val mat = readOrBuild(spark,
              s"$root/${slug(dir)}_${sourceFingerprint(dir)}/$name")(build)
            if (!spreadWorthwhile(mat)) mat
            else mat.repartition(target).localCheckpoint()
          case None =>
            // one materialization when the built width already suffices;
            // when a re-spread is needed, free the superseded
            // intermediate's blocks as soon as the re-spread checkpoint
            // (eager) has materialized — otherwise BOTH copies of every
            // under-parallel signal stay pinned for the session lifetime
            val (mat, handles) = graft.operators.LocalCheckpoints.tracked(build)
            if (!spreadWorthwhile(mat)) mat
            else {
              val spread = mat.repartition(target).localCheckpoint()
              graft.operators.LocalCheckpoints.free(handles)
              spread
            }
        }
        memo.put(key, built)
        if (evictionRegistered.add(spark)) {
          spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
            override def onApplicationEnd(
                e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = {
              memo.keySet.removeIf(_._1 eq spark)
              buildLocks.keySet.removeIf(_._1 eq spark)
              evictionRegistered.remove(spark)
            }
          })
        }
        built
      }
    }
  }
}
