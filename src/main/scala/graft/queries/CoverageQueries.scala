package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, IntegerType, StructField, StructType}

import graft.sources.Tables

/** Gap-fill relational coverage (SURVEY.md §2.3-§2.8): the operator
  * categories the reference has no instance of, standardized on Spark
  * built-ins. Every query is deterministic (decimal-routed double
  * aggregates, unique-key total orders) and has a DuckDB oracle with the
  * same column names.
  *
  * Scale notes (100 TB): joins to `nation`/`region`/`supplier` broadcast
  * (dims are tiny); fact-fact joins shuffle on the join key and AQE picks
  * SMJ/skew splits; groupBy gets map-side partial aggregation from
  * Catalyst automatically; top-k plans as TakeOrderedAndProject (no global
  * sort); window functions shuffle once on the partition key.
  */
object CoverageQueries {

  /** Write-once parquet fixture at a FIXED path (the far-future
    * sentinel streams): threads serialize on the JVM lock, and
    * processes race safely because the write lands in a unique temp
    * sibling first and reaches the final path via atomic rename — the
    * old in-place `mode("overwrite")` let a second process delete the
    * directory under the first's in-flight commit. The loser of the
    * rename race discards its temp copy (both copies are identical by
    * construction). */
  private val fixtureLock = new Object
  private[graft] def ensureFixture(dir: java.nio.file.Path)(
      write: String => Unit): Unit = fixtureLock.synchronized {
    import java.nio.file.{Files, StandardCopyOption}
    if (!Files.exists(dir.resolve("_SUCCESS"))) {
      import scala.jdk.CollectionConverters._
      def rmTree(p: java.nio.file.Path): Unit = if (Files.exists(p)) {
        val s = Files.walk(p)
        try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
        finally s.close()
      }
      def committed = Files.exists(dir.resolve("_SUCCESS"))
      val tmp = dir.resolveSibling(
        dir.getFileName.toString + ".tmp." + java.util.UUID.randomUUID().toString)
      write(tmp.toString)
      try Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
      catch {
        // the common parent: Linux rename(2) onto a non-empty dir
        // surfaces as a raw FileSystemException (ENOTEMPTY), not the
        // typed DirectoryNotEmptyException
        case _: java.nio.file.FileSystemException =>
          if (committed) rmTree(tmp) // lost the race; identical copy
          else {
            // the blocker is a PARTIAL dir (e.g. a crashed legacy
            // in-place write, which self-repaired and this path must
            // too): replace it with the committed tmp copy. Every step
            // can lose to a CONCURRENT repairer (its rmTree/move racing
            // ours), so on any failure wait briefly for the winner's
            // _SUCCESS before concluding the fixture is truly broken.
            try { rmTree(dir); Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE) }
            catch {
              case e: java.nio.file.FileSystemException =>
                val deadline = System.nanoTime + 5L * 1000 * 1000 * 1000
                while (!committed && System.nanoTime < deadline) Thread.sleep(50)
                if (committed) rmTree(tmp) else throw e
            }
          }
      }
    }
  }

  /** One-row far-future (2100-01-01) sentinel STREAM in the normalized
    * events shape ([[Tables.eventsStream]]: `ts` session-TZ
    * TimestampType): unioned into a bounded events replay, its event
    * time pushes the final watermark past every real window/session so
    * append-mode state flushes under AvailableNow. Filter
    * `event_type =!= "__sentinel__"` (or `user_id >= 0`) downstream.
    * Written once at a fixed path (identical across runs), with its own
    * fixture encoding — deliberately independent of whatever encoding
    * generation the testdata's events file is. */
  private[graft] def sentinelStream(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val sentinelTs = java.sql.Timestamp.from(
      java.time.Instant.parse("2100-01-01T00:00:00Z"))
    val sentinelDir = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_sentinel_ts_v2")
    ensureFixture(sentinelDir) { tmp =>
      Seq((-1L, sentinelTs, -1L, "__sentinel__", 0.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(tmp)
    }
    val schema = {
      import org.apache.spark.sql.types._
      StructType(Seq(
        StructField("event_id", LongType), StructField("ts", TimestampType),
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType), StructField("props", StringType)))
    }
    spark.readStream.schema(schema).parquet(sentinelDir.toString)
  }

  // ---- scans / filter / project -----------------------------------------

  /** S12 + T2/T5 batch shape: pushed filter + pruned projection. */
  def filterProject(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate").between(
        lit("1995-01-01").cast("timestamp"), lit("1996-12-31").cast("timestamp"))
        && col("l_discount") > 0.03)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  // ---- joins (J-gap rows) ----------------------------------------------

  /** Inner equi-join chain with broadcastable dim: revenue per nation. */
  def joinInner(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    val n = Tables.nation(spark, dir)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("revenue"))
      .orderBy(col("n_name"))
  }

  /** Left-semi join (EXISTS): customers that placed at least one order. */
  def joinSemi(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** Left-anti join (NOT EXISTS): customers with no order above 300k
    * (plain "no orders" is empty on this data — FKs are fully covered). */
  def joinAnti(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir).filter(col("o_totalprice") > 300000)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  /** Left-outer join + aggregate: per-order item counts (nulls kept). */
  def joinLeftOuter(spark: SparkSession, dir: String): DataFrame = {
    // r19 (guide §2.3, aggregate before the shuffle): the per-order
    // rollup is keyed by the join key, so it pushes below the join —
    // the lineitem side now shuffles one pre-aggregated row per order
    // instead of every line item (600k → 150k rows at sf0.1, the same
    // 4:1 at any scale), and the join matches 1:1. Unmatched orders
    // read count = 0 / sum = null exactly as the post-join aggregate
    // produced (count over an all-null group is 0, sum is null);
    // matched groups sum the identical decimal values, so the rollup
    // is bit-equal.
    val o = Tables.orders(spark, dir)
    val l = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("agg_n_items"),
        sum(col("l_quantity").cast(DecimalType(18, 2))).as("agg_sum_qty"))
    o.join(l, o("o_orderkey") === l("l_orderkey"), "left_outer")
      .select(o("o_orderkey").as("o_orderkey"),
        coalesce(col("agg_n_items"), lit(0L)).as("n_items"),
        col("agg_sum_qty").cast("double").as("sum_qty"))
      .orderBy(col("o_orderkey"))
  }

  // ---- sorts / limits / top-k (O-gap) -----------------------------------

  /** Top-k: plans as TakeOrderedAndProject — per-partition heap + merge,
    * no global sort even at 100 TB. */
  def topK(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)

  // ---- window functions (§2.5) ------------------------------------------

  /** Ranking window: latest order per customer (also J2's last-writer-wins
    * shape, verifier_ui.py:103-104). */
  def windowRank(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    Tables.orders(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
      .orderBy(col("o_custkey"))
  }

  /** Analytic lag: per-user event value deltas. */
  def windowLag(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("prev_value", lag(col("value"), 1).over(w))
      .select(col("event_id"), col("user_id"), col("value"),
        (col("value") - col("prev_value")).as("delta"))
      .orderBy(col("event_id"))
  }

  /** Frame spec: running per-user total (decimal-routed for determinism). */
  def windowFrame(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        sum(col("value").cast(DecimalType(18, 3))).over(w).cast("double").as("running_value"))
      .orderBy(col("event_id"))
  }

  // ---- aggregations (§2.4 gap) ------------------------------------------

  /** Multi-dim rollup with region⋈nation⋈customer (broadcast dims). */
  def rollupAgg(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(
        count(lit(1)).as("n_cust"),
        sum(col("c_acctbal").cast(DecimalType(18, 2))).cast("double").as("sum_bal"))
      .orderBy(asc_nulls_first("r_name"), asc_nulls_first("n_name"))
  }

  /** Cube over two independent dims. */
  def cubeAgg(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .cube(col("c_mktsegment"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
      .orderBy(asc_nulls_first("c_mktsegment"), asc_nulls_first("o_orderpriority"))
  }

  /** GROUPING SETS via the SQL surface. */
  def groupingSets(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("gs_customer")
    spark.sql(
      """SELECT c_mktsegment, c_nationkey, count(1) AS n
        |FROM gs_customer
        |GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
        |ORDER BY c_mktsegment ASC NULLS FIRST, c_nationkey ASC NULLS FIRST""".stripMargin)
  }

  /** Exact distinct aggregation (Catalyst expands to two-phase plan). */
  def distinctAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))

  /** HLL sketch distinct — the 100 TB path (no exact-distinct shuffle
    * explosion) — UNDER the oracle gate (VERDICT r9 ask #8, previously
    * rows-only): the estimate itself is engine-private, so the gated
    * relation emits the exact distinct count plus a boolean BRACKET —
    * relative error ≤ 0.1, the ApproxValidationSpec bound for
    * rsd = 0.02 — which the oracle pins to TRUE. A sketch drifting out
    * of its error budget now fails the driver gate as a hash mismatch
    * instead of hiding behind `no_oracle`. (The exact countDistinct
    * rides along only to form the bracket; production keeps the sketch
    * alone — that's its point.) */
  def approxDistinct(spark: SparkSession, dir: String): DataFrame =
    // r19: measured and deliberately NOT spread — fanning the partial
    // (flag, partkey) distinct + HLL aggregation out to 32 map tasks
    // multiplied the per-task HLL buffer population (each task sees
    // nearly every group) and CPU went 1.3 s → 98 s for a WORSE wall;
    // partial-aggregation duplication dominates sketch aggregates, so
    // the narrow map side stays as the input layout provides
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey"), 0.02).as("a"),
        countDistinct(col("l_partkey")).as("exact_parts"))
      .select(col("l_returnflag"), col("exact_parts"),
        (abs(col("a") - col("exact_parts")).cast("double")
          / col("exact_parts") <= 0.1).as("hll_in_bounds"))
      .orderBy(col("l_returnflag"))

  // ---- set operations (§2.7) --------------------------------------------

  /** A3's key-set union generalized: distinct union of nation keys. */
  def setUnion(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select(col("c_nationkey").as("nk"))
    val s = Tables.supplier(spark, dir).select(col("s_nationkey").as("nk"))
    c.union(s).distinct().orderBy(col("nk"))
  }

  def setIntersect(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select(col("c_nationkey").as("nk"))
    val s = Tables.supplier(spark, dir).select(col("s_nationkey").as("nk"))
    c.intersect(s).orderBy(col("nk"))
  }

  def setExcept(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select(col("c_nationkey").as("nk"))
    val s = Tables.supplier(spark, dir).select(col("s_nationkey").as("nk"))
    c.except(s).orderBy(col("nk"))
  }

  /** Multiset (ALL) set ops — duplicates preserved per bag semantics. */
  def setExceptAll(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select(col("c_nationkey").as("nk"))
    val s = Tables.supplier(spark, dir).select(col("s_nationkey").as("nk"))
    c.exceptAll(s).groupBy(col("nk")).agg(count(lit(1)).as("n")).orderBy(col("nk"))
  }

  /** Array HOF surface over the embedding vectors: per-vector stats via
    * transform/aggregate, one scan-shaped pass. */
  def arrayVectorStats(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(
        col("vec_id"),
        size(col("embedding")).as("dim"),
        round(sqrt(aggregate(col("embedding"), lit(0.0),
          (acc, x) => acc + x.cast("double") * x.cast("double"))), 9).as("l2_norm"),
        array_max(col("embedding")).cast("double").as("max_elem"),
        array_min(col("embedding")).cast("double").as("min_elem"))
      .orderBy(col("vec_id"))

  /** Deterministic stratified sampling: fixed-size per-stratum samples in
    * a pseudo-random but engine-portable order (md5 of the unique key —
    * identical in DuckDB, unlike rand()/TABLESAMPLE). */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(md5(col("event_id").cast("string")), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 20)
      .select(col("event_type"), col("event_id"), col("user_id"), col("value"))
      .orderBy(col("event_type"), col("event_id"))
  }

  // ---- scalar functions (§2.8: F8 JSON, F5 datetime, F1/F2 strings) -----

  /** S6 malformed-skip: the reference's verifier silently skips unparsable
    * JSON lines (`verifier_ui.py:92-96`). from_json yields a null struct
    * for malformed input — the DROPMALFORMED analog — exercised here by
    * deterministically corrupting ~1/7 of the payloads. (Corruption is a
    * PREFIX: Spark's Jackson parser tolerates trailing garbage after a
    * complete JSON value, so a suffix would not invalidate.) */
  def jsonMalformedSkip(spark: SparkSession, dir: String): DataFrame = {
    val schema = StructType(Seq(StructField("k", IntegerType)))
    Tables.events(spark, dir)
      .withColumn("payload",
        when(col("event_id") % 7 === 0, concat(lit("x"), col("props")))
          .otherwise(col("props")))
      .withColumn("parsed", from_json(col("payload"), schema))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_rows"),
        count(col("parsed.k")).as("n_valid"),
        sum(col("parsed.k").cast("long")).as("sum_valid_k"))
      .orderBy(col("event_type"))
  }

  /** F8: schema-enforced JSON parse of `events.props` (the reference's
    * registry-enforced decode, mapped to from_json with explicit schema). */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame = {
    val schema = StructType(Seq(StructField("k", IntegerType)))
    Tables.events(spark, dir)
      .withColumn("parsed", from_json(col("props"), schema))
      .groupBy(col("event_type"))
      .agg(
        sum(col("parsed.k").cast("long")).as("sum_k"),
        count(col("parsed.k")).as("n_k"))
      .orderBy(col("event_type"))
  }

  /** F8 without a declared schema: `events.props` through Spark 4's
    * VARIANT type — `parse_json` shreds the string ONCE into binary
    * variant and every later `variant_get` is a typed binary probe, not
    * a re-parse. That is the semi-structured story at 100 TB: schema-free
    * ingestion whose per-access cost matches a struct column's, vs
    * re-tokenizing JSON text per expression (`json_extract`'s from_json
    * with an explicit schema is the schema-ENFORCED sibling; this is the
    * schema-FLEXIBLE one — both land in the same aggregate oracle). The
    * malformed-input path is covered: try_parse_json nulls instead of
    * failing, so a poisoned row degrades to missing, not a dead job. */
  def jsonVariantAgg(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .withColumn("v", expr("try_parse_json(props)"))
      .select(col("event_type"),
        expr("variant_get(v, '$.k', 'bigint')").as("k"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("sum_k"), count(col("k")).as("n_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy(col("event_type"))
  }

  /** F5 generalized: calendar bucketing of order dates. */
  def dateTrunc(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("revenue"))
      .orderBy(col("month"))

  /** F1/F2/F6 string surface on one scan. */
  def stringFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .select(
        col("c_custkey"),
        upper(col("c_mktsegment")).as("seg_upper"),
        substring(col("c_name"), 1, 8).as("name_prefix"),
        length(col("c_name")).as("name_len"),
        regexp_replace(col("c_name"), "Customer", "C").as("short_name"),
        concat_ws("|", col("c_mktsegment"), col("c_name")).as("tagged"))
      .orderBy(col("c_custkey"))

  /** F4-style conditional buckets (the verifier's when/otherwise shape). */
  def caseWhenBuckets(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .withColumn("bucket",
        when(col("o_totalprice") >= 200000, lit("large"))
          .when(col("o_totalprice") >= 100000, lit("medium"))
          .otherwise(lit("small")))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("bucket"))

  // ---- event-time windows, batch analogs of ST3 -------------------------

  /** Tumbling 1h window (epoch-aligned ⇒ equals date_trunc hour). */
  def tumblingWindow(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 3))).cast("double").as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("window_start"), col("event_type"))

  /** Sliding windows in batch (1h window, 30m slide): every event lands
    * in two overlapping windows — `window()` generates both assignments.
    * The oracle enumerates the same two starts per event explicitly. */
  def slidingWindow(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 3))).cast("double").as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("window_start"), col("event_type"))

  /** The SAME tumbling aggregation executed as a genuine Structured
    * Streaming job — file streaming source, watermark, AvailableNow
    * trigger, memory sink — returned as a batch frame. Shares
    * `tumbling_window`'s DuckDB oracle line for line: the driver gate
    * itself proves stream == batch == external engine.
    *
    * Runs in APPEND mode so the watermark actually evicts window state
    * (complete mode retains every window forever — the unbounded-state
    * failure at streaming scale). On bounded input the last open windows
    * would never emit, so a one-row far-future sentinel stream is
    * unioned in: its event time pushes the final watermark past every
    * real window end, the AvailableNow no-data batch flushes them, and
    * only the sentinel's own window (one row) is left in state. The
    * sentinel's window is filtered from the output. */
  def tumblingWindowStreamed(spark: SparkSession, dir: String): DataFrame = {
    val sentinelType = "__sentinel__"
    // both sides arrive normalized to session-TZ TimestampType, so the
    // union is encoding-agnostic no matter which testdata generation the
    // events file is
    val stream = Tables.eventsStream(spark, dir)
      .unionByName(sentinelStream(spark))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 3))).cast("double").as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))
    graft.streaming.StreamGate.collect("tumbling_streamed", stream)
      .filter(col("event_type") =!= sentinelType)
      .orderBy(col("window_start"), col("event_type"))
  }

  /** Session windows (30 min gap): sessions-per-user. Batch analog of the
    * streaming session_window; oracle is the gaps-and-islands rewrite. */
  def sessionWindow(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("n_events"))
      .orderBy(col("user_id"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "filter_project" -> (filterProject _),
    "join_inner" -> (joinInner _),
    "join_semi" -> (joinSemi _),
    "join_anti" -> (joinAnti _),
    "join_left_outer" -> (joinLeftOuter _),
    "topk" -> (topK _),
    "window_rank" -> (windowRank _),
    "window_lag" -> (windowLag _),
    "window_frame" -> (windowFrame _),
    "rollup_agg" -> (rollupAgg _),
    "cube_agg" -> (cubeAgg _),
    "grouping_sets" -> (groupingSets _),
    "distinct_agg" -> (distinctAgg _),
    "approx_distinct" -> (approxDistinct _),
    "set_union" -> (setUnion _),
    "set_intersect" -> (setIntersect _),
    "set_except" -> (setExcept _),
    "set_except_all" -> (setExceptAll _),
    "array_vector_stats" -> (arrayVectorStats _),
    "stratified_sample" -> (stratifiedSample _),
    "json_extract" -> (jsonExtract _),
    "json_variant_agg" -> (jsonVariantAgg _),
    "json_malformed_skip" -> (jsonMalformedSkip _),
    "date_trunc_agg" -> (dateTrunc _),
    "string_funcs" -> (stringFuncs _),
    "case_when_buckets" -> (caseWhenBuckets _),
    "tumbling_window" -> (tumblingWindow _),
    "tumbling_window_streamed" -> (tumblingWindowStreamed _),
    "sliding_window" -> (slidingWindow _),
    "session_window" -> (sessionWindow _)
  )

  val oracles: Map[String, String] = Map(
    // the bracket an approximate sketch CAN be gated on: the exact side
    // cross-engine, the in-bounds flag pinned TRUE
    "approx_distinct" ->
      """SELECT l_returnflag,
        |       COUNT(DISTINCT l_partkey) AS exact_parts,
        |       TRUE AS hll_in_bounds
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
        |FROM lineitem
        |WHERE l_shipdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
        |  AND l_discount > 0.03
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "join_inner" ->
      """SELECT n_name, COUNT(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |            JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "join_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "join_anti" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin,
    "join_left_outer" ->
      """SELECT o_orderkey, COUNT(l_orderkey) AS n_items,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM orders LEFT JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin,
    "topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "window_rank" ->
      """SELECT o_custkey, o_orderkey, o_orderdate FROM (
        |  SELECT o_custkey, o_orderkey, o_orderdate,
        |         ROW_NUMBER() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders) t
        |WHERE rn = 1 ORDER BY o_custkey""".stripMargin,
    "window_lag" ->
      """SELECT event_id, user_id, value,
        |       value - LAG(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta
        |FROM events ORDER BY event_id""".stripMargin,
    "window_frame" ->
      """SELECT event_id, user_id,
        |       CAST(SUM(CAST(value AS DECIMAL(18,3))) OVER (
        |         PARTITION BY user_id ORDER BY ts, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
        |FROM events ORDER BY event_id""".stripMargin,
    "rollup_agg" ->
      """SELECT r_name, n_name, COUNT(*) AS n_cust,
        |       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |              JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin,
    "cube_agg" ->
      """SELECT c_mktsegment, o_orderpriority, COUNT(*) AS n
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY CUBE (c_mktsegment, o_orderpriority)
        |ORDER BY c_mktsegment ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,
    "grouping_sets" ->
      """SELECT c_mktsegment, c_nationkey, count(1) AS n
        |FROM customer
        |GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
        |ORDER BY c_mktsegment ASC NULLS FIRST, c_nationkey ASC NULLS FIRST""".stripMargin,
    "distinct_agg" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
        |       COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "set_union" ->
      """SELECT c_nationkey AS nk FROM customer UNION
        |SELECT s_nationkey FROM supplier ORDER BY nk""".stripMargin,
    "set_intersect" ->
      """SELECT c_nationkey AS nk FROM customer INTERSECT
        |SELECT s_nationkey FROM supplier ORDER BY nk""".stripMargin,
    "set_except" ->
      """SELECT c_nationkey AS nk FROM customer EXCEPT
        |SELECT s_nationkey FROM supplier ORDER BY nk""".stripMargin,
    "set_except_all" ->
      """WITH d AS (
        |  SELECT c_nationkey AS nk FROM customer EXCEPT ALL
        |  SELECT s_nationkey FROM supplier)
        |SELECT nk, COUNT(*) AS n FROM d GROUP BY nk ORDER BY nk""".stripMargin,
    "stratified_sample" ->
      """SELECT event_type, event_id, user_id, value FROM (
        |  SELECT event_type, event_id, user_id, value,
        |         ROW_NUMBER() OVER (PARTITION BY event_type
        |                            ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rn
        |  FROM events) WHERE rn <= 20
        |ORDER BY event_type, event_id""".stripMargin,
    "array_vector_stats" ->
      """SELECT vec_id, len(embedding) AS dim,
        |       round(sqrt(list_aggregate(
        |         list_transform(CAST(embedding AS DOUBLE[]), x -> x * x), 'sum')), 9) AS l2_norm,
        |       CAST(list_max(embedding) AS DOUBLE) AS max_elem,
        |       CAST(list_min(embedding) AS DOUBLE) AS min_elem
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "json_malformed_skip" ->
      """WITH p AS (
        |  SELECT event_type,
        |         CASE WHEN event_id % 7 = 0 THEN 'x' || props ELSE props END AS payload
        |  FROM events)
        |SELECT event_type, COUNT(*) AS n_rows,
        |       COUNT(CASE WHEN json_valid(payload)
        |                  THEN json_extract_string(payload, '$.k') END) AS n_valid,
        |       CAST(SUM(CASE WHEN json_valid(payload)
        |                THEN CAST(json_extract_string(payload, '$.k') AS BIGINT) END) AS BIGINT) AS sum_valid_k
        |FROM p GROUP BY event_type ORDER BY event_type""".stripMargin,
    "json_extract" ->
      """SELECT event_type,
        |       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |       COUNT(json_extract_string(props, '$.k')) AS n_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "json_variant_agg" ->
      """WITH k AS (
        |  SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |  FROM events)
        |SELECT event_type, CAST(SUM(k) AS BIGINT) AS sum_k, COUNT(k) AS n_k,
        |       MIN(k) AS min_k, MAX(k) AS max_k
        |FROM k GROUP BY event_type ORDER BY event_type""".stripMargin,
    "date_trunc_agg" ->
      """SELECT date_trunc('month', o_orderdate) AS month, COUNT(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders GROUP BY 1 ORDER BY month""".stripMargin,
    "string_funcs" ->
      """SELECT c_custkey, UPPER(c_mktsegment) AS seg_upper,
        |       SUBSTRING(c_name, 1, 8) AS name_prefix,
        |       LENGTH(c_name) AS name_len,
        |       REGEXP_REPLACE(c_name, 'Customer', 'C') AS short_name,
        |       CONCAT_WS('|', c_mktsegment, c_name) AS tagged
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "case_when_buckets" ->
      """SELECT CASE WHEN o_totalprice >= 200000 THEN 'large'
        |            WHEN o_totalprice >= 100000 THEN 'medium'
        |            ELSE 'small' END AS bucket, COUNT(*) AS n
        |FROM orders GROUP BY bucket ORDER BY bucket""".stripMargin,
    "tumbling_window" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type, COUNT(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    "tumbling_window_streamed" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type, COUNT(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    // each event belongs to the two 30m-aligned window starts covering it:
    // floor-to-30m and that minus 30m (window 1h, slide 30m)
    "sliding_window" ->
      """WITH assigned AS (
        |  SELECT unnest([CAST(to_timestamp(floor(epoch(ts) / 1800) * 1800) AS TIMESTAMP),
        |                 CAST(to_timestamp(floor(epoch(ts) / 1800) * 1800 - 1800) AS TIMESTAMP)])
        |           AS window_start,
        |         event_type, value
        |  FROM events)
        |SELECT window_start, event_type, COUNT(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS sum_value
        |FROM assigned GROUP BY window_start, event_type
        |ORDER BY window_start, event_type""".stripMargin,
    "session_window" ->
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
        |FROM marks GROUP BY user_id ORDER BY user_id""".stripMargin
  )
}
