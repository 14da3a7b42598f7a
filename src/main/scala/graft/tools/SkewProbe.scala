package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Salting

/** ADVERSARIAL-SKEW scale probe: the inflation probes ([[ScaleProbe]])
  * grow the corpus UNIFORMLY, but a real 100 TB corpus is skewed — one
  * domain is 20% of the documents, one user is 30% of the events, one
  * empty-string key carries half a table. A hot key moves no extra
  * bytes (total-volume accounting is blind to it); it lands them all on
  * ONE reduce task, and that task becomes the job's wall clock. This
  * probe injects a hot key at a controlled share and MEASURES per-task
  * shuffle-read concentration ([[ShuffleAudit.measureTaskSkew]]) across
  * four arms, converting the repo's skew story (diag_key_skew,
  * Salting.advise, advised_salted_join, the DEPLOYMENT.md AQE notes)
  * into executed receipts:
  *
  *  1. `agg_partial`    — groupBy(hot key) + partial aggregation: the
  *                        map-side combine collapses the hot key to one
  *                        partial per map task, so the reduce-side read
  *                        stays flat. Aggregation is skew-IMMUNE by
  *                        plan shape; no mitigation needed.
  *  2. `join_plain`     — shuffled equi-join on the hot key with AQE
  *                        off: the POSITIVE CONTROL. Worst-task share
  *                        ≈ hot share — the hazard, manifest.
  *  3. `join_aqe_skew`  — the same join under AQE skew-join handling
  *                        (thresholds lowered to engage at probe scale;
  *                        on the cluster the 256 MB defaults engage at
  *                        real partition sizes): Spark splits the hot
  *                        partition into sub-range tasks.
  *  4. `join_salted`    — [[Salting.saltedJoin]] with the salt factor
  *                        PRESCRIBED by [[Salting.advise]] (CMS +
  *                        freqItems sketches, bounded state): the hot
  *                        key spreads across `salts` tasks.
  *
  * All three join arms compute the identical aggregate over the join
  * result, asserted row-equal — mitigation must not change semantics.
  * The artifact (`SCALE_r13_skew.json`) records per-arm worst-stage
  * task shares and the mitigation laws; [[graft.SkewProbeSpec]] asserts
  * the laws in CI at sf0.001.
  */
object SkewProbe {

  /** The injected hot key — negative, disjoint from every real and
    * every [[Inflate]]-shifted user id. */
  val hotUser: Long = -7L

  /** Events inflated k-fold with a `hotMicro`-microfraction of ALL rows
    * reassigned to [[hotUser]] (deterministic on event_id, so the share
    * is exact in expectation and reproducible run-to-run). */
  def skewedEvents(spark: SparkSession, dir: String, k: Int, hotMicro: Long): DataFrame =
    Inflate.table(spark, dir, "events", k)
      .withColumn("user_id",
        when(pmod(xxhash64(col("event_id")), lit(1000000L)) < lit(hotMicro),
          lit(hotUser)).otherwise(col("user_id")))

  /** The join's dimension side: one row per user (referentially
    * complete — includes the hot key), with a coarse segment column the
    * post-join aggregate groups by. */
  def userDim(events: DataFrame): DataFrame =
    events.select(col("user_id")).distinct()
      .withColumn("segment", pmod(col("user_id"), lit(10L)))

  /** The semantics every join arm must agree on: join each event to its
    * user's segment, then aggregate per segment. Integer micro-units so
    * row equality across arms is exact. */
  def armQuery(events: DataFrame, dim: DataFrame, salts: Int): DataFrame = {
    val joined =
      if (salts <= 1) events.join(dim, Seq("user_id"), "inner")
      else Salting.saltedJoin(events, dim, "user_id", salts)
    joined.groupBy(col("segment"))
      .agg(count(lit(1)).as("n_rows"),
        sum(round(col("value") * 1e6).cast("long")).as("value_micro"))
      .orderBy(col("segment"))
  }

  final case class Arm(name: String, note: String,
      worstShareRows: Double, worstShareBytes: Double,
      worstStage: Option[ShuffleAudit.StageSkew],
      result: Seq[(Long, Long, Long)], wall: Double)

  /** Stages small enough to be all fixed overhead certify nothing;
    * qualify on read volume and on having enough tasks that a share has
    * meaning (a 1-task collect stage is trivially share 1.0). The worst
    * stage is picked by the LARGER of its row- and byte-share: the
    * payload arms concentrate bytes while row counts stay flat (a
    * partial collect_list shrinks row counts but not data), and the
    * row-only pick would read right past that hazard. */
  def worstQualifying(stages: Seq[ShuffleAudit.StageSkew], minRows: Long = 1000L,
      minBytes: Long = 32L << 10, minTasks: Int = 4): Option[ShuffleAudit.StageSkew] = {
    // rows OR bytes may carry the volume: a payload exchange can be 160
    // partial-buffer rows and still move most of the job's data
    val q = stages.filter(s =>
      (s.totalRows >= minRows || s.totalBytes >= minBytes) && s.tasks >= minTasks)
    if (q.isEmpty) None else Some(q.maxBy(s => math.max(s.rowShare, s.byteShare)))
  }

  private def withConfs[A](spark: SparkSession, confs: Map[String, String])(
      body: => A): A = {
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Join arms pin the plan: no broadcast (a broadcast join is the
    * degenerate fix — the probe exists for dims too big to broadcast),
    * and AQE off unless the arm IS the AQE arm. */
  private[tools] val plainConfs = Map(
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.enabled" -> "false")

  private[tools] def aqeConfs(thresholdBytes: Long, advisoryBytes: Long) = Map(
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.2",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> s"$thresholdBytes",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> s"$advisoryBytes",
    "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true")

  def runArm(spark: SparkSession, name: String, note: String,
      confs: Map[String, String])(build: => DataFrame): Arm =
    withConfs(spark, confs) {
      val t0 = System.nanoTime()
      val (stages, out) = ShuffleAudit.measureTaskSkew(spark)(build)
      val wall = (System.nanoTime() - t0) / 1e9
      if (sys.env.contains("SPARK_GRAFT_SKEW_DEBUG"))
        stages.foreach(s => System.err.println(
          s"[skew-debug] $name stage=${s.stageId} tasks=${s.tasks} " +
            s"rows=${s.maxTaskRows}/${s.totalRows} bytes=${s.maxTaskBytes}/${s.totalBytes}"))
      val worst = worstQualifying(stages)
      Arm(name, note,
        worst.map(_.rowShare).getOrElse(0.0),
        worst.map(_.byteShare).getOrElse(0.0),
        worst,
        out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq,
        wall)
    }

  final case class Probe(k: Int, hotMicro: Long, injectedShare: Double,
      advice: Salting.SkewAdvice, arms: Seq[Arm])

  // single-file corpus writes share Inflate's layout contract
  // (pathGlobFilter selects leaf FILE names) — one implementation home
  private def writeSingleParquet(df: DataFrame, destDir: String, name: String): Unit =
    Inflate.writeSingleParquet(df, destDir, name)

  /** The BOUNDARY of the aggregation-immunity law: partial aggregation
    * rescues a hot key only when partials SHRINK. A payload-preserving
    * aggregate — collect_list and friends, the "gather every example
    * per user" shape every training pipeline runs — reduces row counts
    * map-side but not DATA: the hot key's entire payload still lands on
    * one reduce task as bytes, invisible to row accounting. Arms:
    *
    *  - `agg_payload_hot`: top-100 event ids per user via a direct
    *    sort_array(collect_list(...)) — byte-share ≈ the hot share;
    *  - `agg_payload_salted`: the standard fix — a two-level salted
    *    aggregate where level 1 groups by (user, salt) and CAPS its
    *    partial to the top-100, so level 2 receives ≤ salts×100 values
    *    per user. EXACTLY output-equal: each level-1 bucket's top-100
    *    is a superset of that bucket's contribution to the global
    *    top-100 (min-k is a semilattice), so the capped merge loses
    *    nothing.
    */
  private def payloadArms(events: DataFrame, salts: Int): Seq[(String, String,
      () => DataFrame)] = {
    // same null pin as the window arms: topKPerKey filters null values
    // BEFORE grouping (an all-null-value user vanishes), while a bare
    // groupBy keeps that user with an empty list — filter both arms so
    // the equality law can only flip on code, never on a testdata
    // regeneration that introduces nulls
    val base = events.filter(col("event_id").isNotNull)
    def rollup(perUser: DataFrame): DataFrame =
      perUser.groupBy(pmod(col("user_id"), lit(10L)).as("segment"))
        .agg(count(lit(1)).as("n_rows"),
          // order-insensitive checksum of the per-user lists; modded so
          // the ANSI sum cannot overflow (≤ n_users * 2^40 << 2^63)
          sum(pmod(xxhash64(concat_ws(",", col("top_ids"))), lit(1L << 40)))
            .as("value_micro"))
        .orderBy(col("segment"))
    val direct = () => rollup(
      base.groupBy(col("user_id"))
        .agg(slice(sort_array(collect_list(col("event_id"))), 1, 100).as("top_ids")))
    // the SHIPPED operator, not an inline re-implementation: these
    // receipts must certify Salting.topKPerKey itself, so a future
    // change to its salt function or cap placement stays covered
    val salted = () => rollup(
      Salting.topKPerKey(base, "user_id", "event_id", k = 100, salts = salts)
        .groupBy(col("user_id"))
        .agg(sort_array(collect_list(col("event_id"))).as("top_ids")))
    Seq(
      ("agg_payload_hot",
        "payload-preserving agg (collect_list top-100 per user): partials shrink rows but NOT bytes — the hot key's payload concentrates on one task",
        direct),
      ("agg_payload_salted",
        s"Salting.topKPerKey (two-level salted agg, level-1 capped at 100 per (user, salt=$salts)): exact same output, hot payload spread across salts tasks",
        salted))
  }

  /** The WINDOW-FUNCTION face of the hazard (VERDICT r13 task 6): the
    * families that shuffle on `partitionBy(key)` — per-key rank
    * (`window_rank`), last-writer-wins keying (reference J2,
    * verifier_ui.py:103-104), and frameless window aggregates. The
    * probe's first finding is NEGATIVE and worth the receipt: Spark
    * 4.1's `WindowGroupLimit` rewrite prunes `row_number() <= k`
    * filters MAP-SIDE (a partial per-key top-k before the exchange,
    * the same shape as a partial agg), so the rank-≤-k and LWW (= rank
    * ≤ 1) families are natively skew-mitigated — measured share ≈ the
    * background, not the hot share. The hazard DOES manifest for
    * window shapes group-limit cannot prune — any frameless aggregate
    * (`sum() over (partition by key)`), full unfiltered ranking,
    * percent_rank — where the hot key's entire partition still sorts
    * on one task. Arms:
    *
    *  - `window_rank_hot`: row_number pruned to rank ≤ 100 — measures
    *    the NATIVE WindowGroupLimit mitigation (expected low);
    *  - `window_rank_salted`: [[Salting.topKPerKey]] — the output-equal
    *    two-level salted rank, the portable form for shapes/engines
    *    without a group-limit rewrite;
    *  - `window_agg_hot`: sum() over (partition by user_id), frameless
    *    — group-limit CANNOT prune it; the hazard, manifest;
    *  - `window_agg_rewrite`: the pre-agg rewrite — groupBy partial
    *    agg (hot key collapses map-side) broadcast-joined back onto
    *    the events; output-equal, and the big side never shuffles;
    *  - `lww_window_hot`: last-writer-wins via row_number DESC = 1 —
    *    natively pruned like the rank arm (expected low);
    *  - `lww_max_by`: the partial-agg rewrite — max over the
    *    lexicographic (ts, event_id, payload) struct, output-equal
    *    because event_id breaks ties deterministically — the form that
    *    stays immune on engines without the group-limit rewrite.
    *
    * All pairs are asserted row-equal: the mitigation is a REWRITE of
    * the window form, never a semantic change. */
  private def windowArms(events: DataFrame, salts: Int): Seq[(String, String,
      () => DataFrame)] = {
    import org.apache.spark.sql.expressions.Window
    def rankRollup(ranked: DataFrame): DataFrame =
      ranked.groupBy(pmod(col("user_id"), lit(10L)).as("segment"))
        .agg(count(lit(1)).as("n_rows"),
          // order-insensitive checksum over (user, rank, event_id);
          // modded so the ANSI sum cannot overflow
          sum(pmod(xxhash64(concat_ws(",",
            col("user_id"), col("rank"), col("event_id"))), lit(1L << 40)))
            .as("value_micro"))
        .orderBy(col("segment"))
    // both rank arms exclude null values explicitly: topKPerKey's
    // contract filters them, while row_number would rank them
    // (nulls-first) — without the pin a testdata regeneration that
    // introduces nulls would flip the equality law on data, not code
    val rankHot = () => rankRollup(
      events.filter(col("event_id").isNotNull)
        .withColumn("rank",
          row_number().over(
            Window.partitionBy(col("user_id")).orderBy(col("event_id")))
            .cast("long"))
        .filter(col("rank") <= 100)
        .select(col("user_id"), col("rank"), col("event_id")))
    // the SHIPPED operator (same discipline as the payload arms)
    val rankSalted = () => rankRollup(
      Salting.topKPerKey(events, "user_id", "event_id", k = 100, salts = salts))
    def lwwRollup(latest: DataFrame): DataFrame =
      latest.groupBy(pmod(col("user_id"), lit(10L)).as("segment"))
        .agg(count(lit(1)).as("n_rows"), sum(col("value_micro")).as("value_micro"))
        .orderBy(col("segment"))
    val lwwHot = () => lwwRollup(
      events.withColumn("value_micro", round(col("value") * 1e6).cast("long"))
        .withColumn("rn",
          row_number().over(Window.partitionBy(col("user_id"))
            .orderBy(col("ts").desc, col("event_id").desc)))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("value_micro")))
    val lwwMaxBy = () => lwwRollup(
      events.groupBy(col("user_id"))
        .agg(max(struct(col("ts"), col("event_id"),
          round(col("value") * 1e6).cast("long").as("value_micro"))).as("m"))
        .select(col("user_id"), col("m.value_micro").as("value_micro")))
    // the frameless window aggregate: every event row carries its
    // user's total — group-limit has nothing to prune, the full hot
    // partition sorts on one task
    def aggRollup(withTotal: DataFrame): DataFrame =
      withTotal.groupBy(pmod(col("user_id"), lit(10L)).as("segment"))
        .agg(count(lit(1)).as("n_rows"),
          sum(pmod(xxhash64(concat_ws(",",
            col("event_id"), col("user_total_micro"))), lit(1L << 40)))
            .as("value_micro"))
        .orderBy(col("segment"))
    // both agg arms exclude null keys explicitly: the rewrite's inner
    // join drops a null user_id the frameless window form keeps —
    // another on-data equality flip waiting for a testdata change
    val aggBase = events.filter(col("user_id").isNotNull)
    val windowAggHot = () => aggRollup(
      aggBase.withColumn("user_total_micro",
        sum(round(col("value") * 1e6).cast("long")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))))
        .select(col("user_id"), col("event_id"), col("user_total_micro")))
    val windowAggRewrite = () => aggRollup(
      aggBase.join(
          broadcast(aggBase.groupBy(col("user_id"))
            .agg(sum(round(col("value") * 1e6).cast("long"))
              .as("user_total_micro"))),
          Seq("user_id"), "inner")
        .select(col("user_id"), col("event_id"), col("user_total_micro")))
    Seq(
      ("window_rank_hot",
        "row_number over partitionBy(user_id) pruned to rank<=100: Spark 4.1's WindowGroupLimit prunes the hot partition MAP-SIDE (partial per-key top-k before the exchange) — the native mitigation, measured",
        rankHot),
      ("window_rank_salted",
        s"Salting.topKPerKey (two-level salted rank, salts=$salts): output-equal portable form for shapes/engines without a group-limit rewrite",
        rankSalted),
      ("window_agg_hot",
        "frameless sum() over (partition by user_id): group-limit cannot prune a window aggregate — the hot partition sorts on ONE task, hazard manifest",
        windowAggHot),
      ("window_agg_rewrite",
        "pre-agg rewrite: groupBy partial agg (hot key collapses map-side) broadcast-joined back — output-equal, big side never shuffles",
        windowAggRewrite),
      ("lww_window_hot",
        "last-writer-wins via row_number DESC = 1 (reference J2 keying): rank<=1, natively pruned by WindowGroupLimit like the rank arm",
        lwwHot),
      ("lww_max_by",
        "last-writer-wins via max(lexicographic struct): partial-agg rewrite, output-equal, immune on any engine",
        lwwMaxBy))
  }

  /** The STREAMING mirror of the batch arms — the hot key hits the
    * micro-batch exchanges exactly like a batch job's, so the same
    * three laws get streamed receipts:
    *
    *  - streamed stateful aggregation is skew-immune the same way batch
    *    aggregation is (map-side partial agg collapses the hot key to
    *    one partial per map task BEFORE the state-store shuffle; the
    *    hot USER's state row is one row like any other);
    *  - a stream-static enrichment join concentrates per micro-batch
    *    exactly like the batch join (stateless, planned as a batch
    *    join each batch);
    *  - [[Salting.saltedJoin]] applies UNCHANGED to the stream-static
    *    shape (the salt is a deterministic row hash, legal in a
    *    streaming plan) and spreads the hot key the same way.
    *
    * All three run AvailableNow to completion on the same skewed
    * corpus, so their complete-mode results are directly row-comparable
    * to the batch arms'. */
  private def streamArms(spark: SparkSession, streamDir: String, dim: DataFrame,
      maxShare: Double, stateParts: Int): Seq[Arm] = {
    import graft.sources.Tables
    import graft.streaming.StreamGate
    val streamConfs = plainConfs +
      (StreamGate.statePartitionsKey -> stateParts.toString)
    val streamSalts = math.max(1, math.ceil(maxShare * stateParts).toInt)
    Seq(
      runArm(spark, "stream_agg_hot",
        "streamed stateful per-user agg: map-side partial agg collapses the hot key before the state shuffle — immune like batch",
        streamConfs) {
        StreamGate.collect("skew_stream",
          Tables.eventsStream(spark, streamDir)
            .groupBy(col("user_id"))
            .agg(count(lit(1)).as("n"),
              sum(round(col("value") * 1e6).cast("long")).as("value_micro")),
          outputMode = "complete")
          .groupBy(pmod(col("user_id"), lit(10L)).as("segment"))
          .agg(count(lit(1)).as("n_rows"), sum(col("value_micro")).as("value_micro"))
          .orderBy(col("segment"))
      },
      runArm(spark, "stream_join_plain",
        "stream-static enrichment join, unmitigated: each micro-batch concentrates like the batch join",
        streamConfs) {
        StreamGate.collect("skew_stream",
          Tables.eventsStream(spark, streamDir)
            .join(dim, Seq("user_id"), "inner")
            .groupBy(col("segment"))
            .agg(count(lit(1)).as("n_rows"),
              sum(round(col("value") * 1e6).cast("long")).as("value_micro")),
          outputMode = "complete")
          .orderBy(col("segment"))
      },
      runArm(spark, "stream_join_salted",
        s"stream-static join through Salting.saltedJoin (salts=$streamSalts for $stateParts state partitions): same mitigation, streaming plan",
        streamConfs) {
        StreamGate.collect("skew_stream",
          Salting.saltedJoin(
              Tables.eventsStream(spark, streamDir), dim, "user_id", streamSalts)
            .groupBy(col("segment"))
            .agg(count(lit(1)).as("n_rows"),
              sum(round(col("value") * 1e6).cast("long")).as("value_micro")),
          outputMode = "complete")
          .orderBy(col("segment"))
      })
  }

  /** AQE skew thresholds scaled to the hot partition's MEASURED
    * compressed bytes (taken from the plain arm's worst stage — a row
    * -size guess missed shuffle compression by ~8× and silently
    * disarmed detection): threshold < hot-partition size engages the
    * split, advisory sets the fan-out (~hot/advisory sub-tasks). On a
    * real cluster the 256 MB defaults serve the same role at real
    * partition sizes. */
  def aqeKnobs(hotPartitionBytes: Long): (Long, Long) = {
    val threshold = math.max(1L << 10, hotPartitionBytes / 3)
    val advisory = math.max(1L << 10, hotPartitionBytes / 6)
    (threshold, advisory)
  }

  def run(spark: SparkSession, sfDir: String, k: Int, hotMicro: Long): Probe = {
    val events = skewedEvents(spark, sfDir, k, hotMicro)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val total = events.count()
      val hotRows = events.filter(col("user_id") === hotUser).count()
      val injected = hotRows.toDouble / total
      // dim read back from PARQUET, not cached: (a) building it inline
      // leaves the distinct()'s HashAggregate between the shuffle stage
      // and the join-side sort, so OptimizeSkewedJoin's pattern (bare
      // ShuffleQueryStage under each SortExec) never matches; (b)
      // CACHING it instead preserves its hashpartitioning(user_id)
      // output partitioning, the planner then elides the dim-side
      // exchange altogether, and the rule — which needs shuffle stages
      // on BOTH sides — again never fires. A real deployment's dim is a
      // table scanned from storage; reproduce exactly that shape.
      val dimPath = java.nio.file.Files.createTempDirectory("graft_skew_dim").toString
      val streamDir = java.nio.file.Files.createTempDirectory("graft_skew_stream").toString
      try {
      userDim(events).write.mode("overwrite").parquet(dimPath)
      val dim = graft.sources.Tables.parquet(spark, dimPath)
      val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
      // the advisor's sketches see the full skewed table, bounded state
      val advice = Salting.advise(events, "user_id", parts)
      val agg = runArm(spark, "agg_partial",
        "groupBy(user_id) with map-side combine: reduce read is per-map partials, skew-immune by plan shape",
        plainConfs) {
        events.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n"),
            sum(round(col("value") * 1e6).cast("long")).as("value_micro"))
          .groupBy(pmod(col("user_id"), lit(10L)).as("segment"))
          .agg(count(lit(1)).as("n_rows"), sum(col("value_micro")).as("value_micro"))
          .orderBy(col("segment"))
      }
      // the positive control runs FIRST: its measured hot-partition
      // bytes calibrate the AQE thresholds (compressed shuffle sizes
      // are ~8x smaller than a row-size guess suggests)
      val plain = runArm(spark, "join_plain",
        "shuffled equi-join on the hot key, AQE off: positive control — worst task reads ~ the hot share",
        plainConfs) { armQuery(events, dim, salts = 1) }
      val hotBytes = plain.worstStage.map(_.maxTaskBytes).getOrElse(64L << 10)
      val (thr, adv) = aqeKnobs(hotBytes)
      // the streamed mirror reads the same skewed corpus as a file
      // stream — eventsStream selects by leaf filename, so write the
      // single-file layout it expects
      writeSingleParquet(events, streamDir, "events")
      val arms = Seq(agg, plain,
        runArm(spark, "join_aqe_skew",
          s"AQE skew-join split (threshold=$thr advisory=$adv, calibrated to the measured hot partition; cluster defaults 256MB)",
          aqeConfs(thr, adv)) { armQuery(events, dim, salts = 1) },
        runArm(spark, "join_salted",
          s"Salting.saltedJoin with advise()-prescribed salts=${advice.salts}: hot key spread across salts tasks",
          plainConfs) { armQuery(events, dim, salts = advice.salts) }) ++
        payloadArms(events, advice.salts).map { case (name, note, build) =>
          runArm(spark, name, note, plainConfs)(build())
        } ++
        windowArms(events, advice.salts).map { case (name, note, build) =>
          runArm(spark, name, note, plainConfs)(build())
        } ++
        streamArms(spark, streamDir, dim, advice.maxShare, stateParts = 16)
      Probe(k, hotMicro, injected, advice, arms)
      } finally {
        // scratch corpora must not outlive a failed arm either
        ScaleProbe.cleanup(dimPath)
        ScaleProbe.cleanup(streamDir)
      }
    } finally { events.unpersist(false): Unit }
  }

  def json(p: Probe, sfDir: String): String = {
    val armRows = p.arms.map { a =>
      val ws = a.worstStage.map(s =>
        s""""worst_stage":{"tasks":${s.tasks},"max_task_rows":${s.maxTaskRows},""" +
          s""""total_rows":${s.totalRows},"max_task_bytes":${s.maxTaskBytes},""" +
          s""""total_bytes":${s.totalBytes}},""").getOrElse("")
      f"""{"arm":${JsonText.str(a.name)},"note":${JsonText.str(a.note)},$ws""" +
        f""""worst_share_rows":${a.worstShareRows}%.4f,""" +
        f""""worst_share_bytes":${a.worstShareBytes}%.4f,""" +
        f""""wall_s":${a.wall}%.3f,"result_rows":${a.result.size}}"""
    }.mkString("[", ",", "]")
    val byName = p.arms.map(a => a.name -> a).toMap
    val plain = byName("join_plain")
    val sPlain = byName("stream_join_plain")
    val laws =
      s""""hazard_manifest":${plain.worstShareRows >= 0.5 * p.injectedShare},""" +
        s""""aqe_mitigates":${byName("join_aqe_skew").worstShareRows <= plain.worstShareRows / 2},""" +
        s""""salting_mitigates":${byName("join_salted").worstShareRows <= plain.worstShareRows / 2},""" +
        s""""agg_immune":${byName("agg_partial").worstShareRows <= 0.25},""" +
        s""""arms_row_equal":${p.arms.filter(_.name.startsWith("join")).map(_.result).distinct.size == 1},""" +
        s""""stream_hazard_manifest":${sPlain.worstShareRows >= 0.5 * p.injectedShare},""" +
        s""""stream_salting_mitigates":${byName("stream_join_salted").worstShareRows <= sPlain.worstShareRows * 0.6},""" +
        s""""stream_agg_immune":${byName("stream_agg_hot").worstShareRows <= 0.25},""" +
        s""""stream_batch_equal":${
          byName("stream_join_plain").result == plain.result &&
            byName("stream_join_salted").result == plain.result &&
            byName("stream_agg_hot").result == byName("agg_partial").result},""" +
        s""""payload_hazard_manifest":${
          byName("agg_payload_hot").worstShareBytes >= 0.5 * p.injectedShare},""" +
        s""""payload_salting_mitigates":${
          byName("agg_payload_salted").worstShareBytes <=
            byName("agg_payload_hot").worstShareBytes / 2},""" +
        s""""payload_arms_equal":${
          byName("agg_payload_hot").result == byName("agg_payload_salted").result},""" +
        s""""window_grouplimit_prunes":${
          byName("window_rank_hot").worstShareRows <= 0.25},""" +
        s""""window_rank_arms_equal":${
          byName("window_rank_hot").result == byName("window_rank_salted").result},""" +
        s""""window_hazard_manifest":${
          byName("window_agg_hot").worstShareRows >= 0.5 * p.injectedShare},""" +
        s""""window_rewrite_mitigates":${
          byName("window_agg_rewrite").worstShareRows <=
            byName("window_agg_hot").worstShareRows / 2},""" +
        s""""window_agg_arms_equal":${
          byName("window_agg_hot").result == byName("window_agg_rewrite").result},""" +
        s""""lww_grouplimit_prunes":${
          byName("lww_window_hot").worstShareRows <= 0.25},""" +
        s""""lww_max_by_immune":${byName("lww_max_by").worstShareRows <= 0.25},""" +
        s""""lww_arms_equal":${
          byName("lww_window_hot").result == byName("lww_max_by").result}"""
    f"""{"probe":"skew","sf":"$sfDir","k":${p.k},"hot_micro":${p.hotMicro},""" +
      f""""injected_share":${p.injectedShare}%.4f,""" +
      f""""advice":{"total_rows":${p.advice.totalRows},"hottest_rows":${p.advice.hottestKeyRows},""" +
      f""""max_share":${p.advice.maxShare}%.4f,"salts":${p.advice.salts}},""" +
      s""""note":"per-task shuffle-READ concentration per arm: worst qualifying stage's max-task/total share (rows primary, bytes secondary); a hot key moves no extra bytes, it concentrates them — total-volume probes are blind to this, so the inflation receipts get this adversarial companion; join arms are row-equal by law","laws":{$laws},"arms":$armRows}"""
  }

  /** `runMain graft.tools.SkewProbe [sfDir] [k] [hotMicro] [outPath]` */
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val k = args.lift(1).map(_.toInt).getOrElse(30)
    val hotMicro = args.lift(2).map(_.toLong).getOrElse(300000L)
    val outPath = args.lift(3).getOrElse("SCALE_r14_skew.json")
    val spark = graft.sources.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val p = run(spark, sfDir, k, hotMicro)
    val out = json(p, sfDir)
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (out + "\n").getBytes("UTF-8"))
    p.arms.foreach(a => println(
      f"[skew] ${a.name}%-16s worst_share rows=${a.worstShareRows}%.3f " +
        f"bytes=${a.worstShareBytes}%.3f wall=${a.wall}%5.2f s  (${a.note.take(60)})"))
    println(s"[skew] injected=${p.injectedShare} advice_share=${p.advice.maxShare} " +
      s"salts=${p.advice.salts}; artifact written to $outPath")
    spark.stop()
  }
}
