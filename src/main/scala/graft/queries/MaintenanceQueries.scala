package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators.CdcMerge
import graft.sources.Tables

/** Table-maintenance relations: the operations that keep an append-only
  * lake (which is all the reference's sink produces —
  * `connectors/s3-sink.json` flushes raw records in arrival order)
  * queryable and fast at 100 TB: changelog compaction into current
  * state, incremental re-aggregation of partial states, range-partition
  * layout planning, and zone-map data skipping.
  *
  * Every query here is oracle-backed; float outputs are either raw data
  * passthrough or derived from exact decimal sums, so the cross-engine
  * hash is stable (see Verify gotchas in the project skill).
  */
object MaintenanceQueries {

  /** MERGE INTO semantics over a derived CDC changelog. `orders` plays
    * the changelog against the `customer` snapshot: every order is a
    * change record for its customer — o_orderkey % 10 picks the op
    * (0 → delete, 1-2 → insert under a fresh key, else balance update),
    * o_orderkey is the LWW sequence, o_totalprice the new balance.
    * Plan shape: one map-side-combined `max_by` aggregate collapses the
    * changelog to |keys|, then one full-outer equi-join applies it — no
    * window sort anywhere (see [[graft.operators.CdcMerge]]). */
  /** The derived changelog shape shared by the batch and streamed merge:
    * each order is a change record for its customer, op picked by
    * o_orderkey % 10, o_orderkey the LWW sequence. Works on a batch or
    * streaming `orders` frame. */
  private def ordersChangelog(o: DataFrame): DataFrame = {
    val isIns = col("o_orderkey") % 10 === 1 || col("o_orderkey") % 10 === 2
    val isDel = col("o_orderkey") % 10 === 0
    o.select(
      when(isIns, col("o_custkey") + 1000000L).otherwise(col("o_custkey")).as("c_custkey"),
      col("o_orderkey").as("seq"),
      when(isDel, lit("D")).when(isIns, lit("I")).otherwise(lit("U")).as("op"),
      when(isIns, lit("cdc_insert")).otherwise(lit(null).cast("string")).as("c_name"),
      col("o_totalprice").as("c_acctbal"))
  }

  private def customerSnapshot(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))

  def cdcMergeSnapshot(spark: SparkSession, dir: String): DataFrame =
    CdcMerge.upsert(customerSnapshot(spark, dir),
        ordersChangelog(Tables.orders(spark, dir)), "c_custkey", "seq", "op")
      .orderBy(col("c_custkey"))

  /** The SAME merge with the changelog arriving as a STREAM: stage 1
    * (LWW compaction) runs as a streaming aggregation whose keyed state
    * is exactly the CDC bound — one buffered row per live key — and the
    * complete-mode sink always holds the current compacted state, which
    * stage 2 applies to the snapshot. max_by over a unique sequence
    * makes the result independent of micro-batch slicing, so the
    * streamed state matches the batch merge bit-for-bit — same oracle
    * as `cdc_merge_snapshot`. (A deployment would fold stage 2 into
    * `foreachBatch` against the lake table; the gate keeps it explicit.) */
  def cdcMergeStreamed(spark: SparkSession, dir: String): DataFrame = {
    val latest = CdcMerge.latestPerKey(
      ordersChangelog(Tables.ordersStream(spark, dir)), "c_custkey", "seq", "op")
    val streamed = graft.streaming.StreamGate.collect("cdc_latest", latest, outputMode = "complete")
    CdcMerge.applyLatest(customerSnapshot(spark, dir), streamed, "c_custkey")
      .orderBy(col("c_custkey"))
  }

  /** Incremental view maintenance receipt: per-flag pricing stats are
    * computed as TWO independent partial-aggregate states (the even and
    * odd halves of lineitem — stand-ins for "yesterday's state" and
    * "today's delta"), then MERGED by summing counts/sums and
    * min/max-ing bounds. Decimal sums make the merge exact, so the
    * merged state is bit-identical to the direct aggregate the oracle
    * computes — the algebraic property that lets a 100 TB rollup update
    * from a day's delta instead of rescanning history. */
  def aggIncrementalMerge(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir).select(
      col("l_returnflag"),
      (col("l_orderkey") % 2).as("half"),
      col("l_quantity").cast(DecimalType(18, 2)).as("qty"),
      col("l_extendedprice").cast(DecimalType(18, 2)).as("price"),
      col("l_extendedprice").as("price_raw"))
    // ONE scan: both partial states come from a single pass grouped by
    // (flag, half) — the independence demonstration lives in the MERGE
    // algebra, not in scanning the fact table once per state (the old
    // two-filtered-scans shape paid a full extra fact-table read, the
    // dominant cost at 100 TB)
    l.groupBy(col("l_returnflag"), col("half"))
      .agg(count(lit(1)).as("n"), sum(col("qty")).as("sum_qty_d"),
        sum(col("price")).as("sum_price_d"),
        min(col("price_raw")).as("min_price"), max(col("price_raw")).as("max_price"))
      .groupBy(col("l_returnflag"))
      .agg(sum(col("n")).as("n"),
        sum(col("sum_qty_d")).cast("double").as("sum_qty"),
        sum(col("sum_price_d")).cast("double").as("sum_price"),
        min(col("min_price")).as("min_price"),
        max(col("max_price")).as("max_price"))
      .withColumn("avg_price", col("sum_price") / col("n"))
      .orderBy(col("l_returnflag"))
  }

  /** The SKETCH counterpart of [[aggIncrementalMerge]]: per-flag
    * distinct-part counts maintained as two independent Datasketches
    * HLL partials merged with `hll_union_agg`. Where the decimal-sum
    * merge is exact, the sketch merge is LOSSLESS IN STATE — register-
    * wise max, so merging a delta sketch into yesterday's gives the
    * identical registers (and estimate) a full rescan would, at a few
    * KB per group instead of a distinct-set shuffle. Gated via its
    * BRACKET (VERDICT r9 ask #8, previously rows-only): the merged
    * estimate is engine-private, so the relation emits the exact
    * distinct count plus a boolean — merged estimate within 10%
    * relative error, the ApproxValidationSpec-class bound — pinned
    * TRUE by the oracle. MaintenanceOpsSpec additionally pins the
    * merge identity (merged estimate == direct-sketch estimate,
    * exactly), which no cross-engine oracle can. */
  def aggSketchMerge(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir).select(
      col("l_returnflag"), (col("l_orderkey") % 2).as("half"), col("l_partkey"))
    // one scan for both HLL partials (see [[aggIncrementalMerge]])
    val merged = l.groupBy(col("l_returnflag"), col("half"))
      .agg(hll_sketch_agg(col("l_partkey")).as("sk"))
      .groupBy(col("l_returnflag"))
      .agg(hll_union_agg(col("sk")).as("sk"))
      .select(col("l_returnflag"),
        hll_sketch_estimate(col("sk")).as("a"))
    val exact = l.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("exact_parts"))
    merged.join(exact, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("exact_parts"),
        (abs(col("a") - col("exact_parts")).cast("double")
          / col("exact_parts") <= 0.1).as("merge_in_bounds"))
      .orderBy(col("l_returnflag"))
  }

  /** Exact range-partition occupancy ledger: 16 quantile buckets of
    * `orders` by (o_totalprice, o_orderkey), with per-bucket row counts
    * and value bounds — the receipt a layout planner checks before a
    * sorted write. This registered relation uses exact `ntile` so the
    * DuckDB oracle matches bit-for-bit; the PRODUCTION path at 100 TB is
    * [[graft.operators.RangePartition]], which plans the same
    * boundaries from a one-pass quantile sketch (cost independent of
    * table size) and is spec-bound to land within its error budget
    * (MaintenanceOpsSpec). */
  def layoutRangePartition(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"))
      .withColumn("bucket", ntile(16).over(w))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("o_totalprice")).as("lo"), max(col("o_totalprice")).as("hi"))
      .orderBy(col("bucket"))
  }

  /** Zone-map pruning ledger: per 512-key block of `orders`, the
    * (min, max) o_totalprice zone map plus whether the block survives
    * the predicate `o_totalprice > 450000` — i.e. whether a scan with
    * that pushed filter must read the block at all. Arrival-order blocks
    * nearly all survive (the point: an unsorted lake skips nothing);
    * after a [[graft.operators.RangePartition.layout]] sorted write the
    * same predicate prunes to a handful of files, which
    * MaintenanceOpsSpec demonstrates on real parquet. */
  def scanZonemapPrune(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(expr("o_orderkey div 512").as("block"), col("o_totalprice"))
      .groupBy(col("block"))
      .agg(count(lit(1)).as("n"),
        min(col("o_totalprice")).as("lo"), max(col("o_totalprice")).as("hi"))
      .withColumn("survives", col("hi") > 450000.0d)
      .orderBy(col("block"))

  /** Inline data-quality observation: `Dataset.observe` metrics ride
    * the SAME scan the pipeline already pays for — they accumulate on
    * the executors during the action, so profiling 100 TB costs zero
    * extra passes and zero extra shuffles (the alternative is a second
    * full aggregate query over the same bytes). The relation runs one
    * noop materialization to harvest the Observation, then returns the
    * metrics as a single row; the decimal-cast sum keeps the double
    * order-insensitive, and the oracle is the equivalent plain
    * aggregate — proving observed metrics equal computed ones.
    *
    * TOOLING NOTE (registry contract): building this DataFrame is NOT
    * free and NOT lazy — the full lineitem scan + noop write run at
    * construction, and the returned frame is a LocalRelation with no
    * plan to inspect. Plan-shape audits must exclude it
    * (PlanShapeSpec.eagerNoPlan); anything that "just wants the plan"
    * (explain tooling, bench prep) pays the scan and learns nothing. */
  def pipelineObserveMetrics(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val obs = org.apache.spark.sql.Observation()
    Tables.lineitem(spark, dir)
      .observe(obs,
        count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"),
        count(when(col("l_returnflag") === "R", 1)).as("n_returned"),
        min(col("l_shipdate")).as("min_shipdate"),
        max(col("l_shipdate")).as("max_shipdate"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    // l_shipdate loads as TIMESTAMP_NTZ, which surfaces as
    // LocalDateTime in the observed row and round-trips to parquet as
    // a naive timestamp — exactly what the DuckDB oracle computes
    Seq((m("n_rows").asInstanceOf[Long], m("sum_qty").asInstanceOf[Double],
      m("n_returned").asInstanceOf[Long],
      m("min_shipdate").asInstanceOf[java.time.LocalDateTime],
      m("max_shipdate").asInstanceOf[java.time.LocalDateTime]))
      .toDF("n_rows", "sum_qty", "n_returned", "min_shipdate", "max_shipdate")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipeline_observe_metrics" -> (pipelineObserveMetrics _),
    "cdc_merge_snapshot" -> (cdcMergeSnapshot _),
    "cdc_merge_streamed" -> (cdcMergeStreamed _),
    "agg_incremental_merge" -> (aggIncrementalMerge _),
    "agg_sketch_merge" -> (aggSketchMerge _),
    "layout_range_partition" -> (layoutRangePartition _),
    "scan_zonemap_prune" -> (scanZonemapPrune _)
  )

  // one AvailableNow replay compacts the same changelog the batch merge
  // reads, so streamed and batch share the oracle verbatim
  private val cdcOracleSql =
    """WITH chg AS (
        |  SELECT CASE WHEN o_orderkey % 10 IN (1,2) THEN o_custkey + 1000000 ELSE o_custkey END AS c_custkey,
        |         o_orderkey AS seq,
        |         CASE WHEN o_orderkey % 10 = 0 THEN 'D'
        |              WHEN o_orderkey % 10 IN (1,2) THEN 'I' ELSE 'U' END AS op,
        |         CASE WHEN o_orderkey % 10 IN (1,2) THEN 'cdc_insert' END AS chg_name,
        |         o_totalprice AS chg_bal
        |  FROM orders),
        |latest AS (
        |  SELECT c_custkey, op, chg_name, chg_bal
        |  FROM (SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY seq DESC) AS rn FROM chg)
        |  WHERE rn = 1)
        |SELECT COALESCE(s.c_custkey, l.c_custkey) AS c_custkey,
        |       COALESCE(l.chg_name, s.c_name) AS c_name,
        |       COALESCE(l.chg_bal, s.c_acctbal) AS c_acctbal,
        |       CASE WHEN l.c_custkey IS NULL THEN 'kept'
        |            WHEN s.c_custkey IS NULL THEN 'inserted'
        |            ELSE 'updated' END AS change
        |FROM customer s FULL OUTER JOIN latest l ON s.c_custkey = l.c_custkey
        |WHERE l.op IS NULL OR l.op <> 'D'
        |ORDER BY c_custkey""".stripMargin

  val oracles: Map[String, String] = Map(
    // the sketch-merge bracket (r9 ask #8): exact side cross-engine,
    // the in-bounds flag pinned TRUE
    "agg_sketch_merge" ->
      """SELECT l_returnflag,
        |       COUNT(DISTINCT l_partkey) AS exact_parts,
        |       TRUE AS merge_in_bounds
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "pipeline_observe_metrics" ->
      """SELECT COUNT(*) AS n_rows,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       COUNT(CASE WHEN l_returnflag = 'R' THEN 1 END) AS n_returned,
        |       MIN(l_shipdate) AS min_shipdate,
        |       MAX(l_shipdate) AS max_shipdate
        |FROM lineitem""".stripMargin,
    "cdc_merge_snapshot" -> cdcOracleSql,
    "cdc_merge_streamed" -> cdcOracleSql,
    "agg_incremental_merge" ->
      """SELECT l_returnflag,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |       MIN(l_extendedprice) AS min_price,
        |       MAX(l_extendedprice) AS max_price,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "layout_range_partition" ->
      """SELECT bucket, COUNT(*) AS n, MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
        |FROM (SELECT o_totalprice,
        |             ntile(16) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
        |      FROM orders)
        |GROUP BY bucket
        |ORDER BY bucket""".stripMargin,
    "scan_zonemap_prune" ->
      """SELECT o_orderkey // 512 AS block, COUNT(*) AS n,
        |       MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi,
        |       MAX(o_totalprice) > 450000.0 AS survives
        |FROM orders
        |GROUP BY block
        |ORDER BY block""".stripMargin
  )
}
