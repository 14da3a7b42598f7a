package graft

import org.apache.spark.sql.functions._

import graft.operators.Salting
import graft.sources.{Bucketing, Tables}

class BucketingSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed tables join without a shuffle on the bucket key") {
    Bucketing.writeBucketed(Tables.orders(spark, sf), "b_orders", "o_orderkey", 8)
    Bucketing.writeBucketed(Tables.lineitem(spark, sf), "b_lineitem", "l_orderkey", 8)

    val joined = spark.table("b_orders")
      .join(spark.table("b_lineitem"),
        col("o_orderkey") === col("l_orderkey"))
    val plan = withNoBroadcast {
      joined.queryExecution.executedPlan.toString
    }
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles:\n$plan")
    assert(joined.count() === Tables.lineitem(spark, sf).count())
  }

  private def withNoBroadcast[T](f: => T): T = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try f finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("column pruning: a 2-column projection reads a 2-column schema") {
    val q = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_quantity"))
    val scan = q.queryExecution.executedPlan.collectLeaves().head.toString
    val m = "ReadSchema: ([^,]*struct<[^>]*>)".r.findFirstMatchIn(scan)
    assert(m.isDefined, s"no ReadSchema in scan:\n$scan")
    val readSchema = m.get.group(1)
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_quantity"))
    // the 11-column table must NOT be read in full
    assert(!readSchema.contains("l_extendedprice") && !readSchema.contains("l_shipdate"),
      s"scan reads unprojected columns: $readSchema")
  }

  test("partitioned layout prunes partitions on a partition-column filter") {
    val dir = suiteTempDir("graft_part")
    Tables.events(spark, sf).write.mode("overwrite")
      .partitionBy("event_type").parquet(dir)
    val q = spark.read.parquet(dir).filter(col("event_type") === "signup")
    val scan = q.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains("signup"),
      s"no partition pruning in:\n$scan")
    assert(q.count() === Tables.events(spark, sf)
      .filter(col("event_type") === "signup").count())
  }

  test("dynamic partition pruning kicks in for a filtered dim join") {
    val dir = suiteTempDir("graft_dpp")
    Tables.lineitem(spark, sf).write.mode("overwrite")
      .partitionBy("l_suppkey").parquet(dir)
    val fact = spark.read.parquet(dir)
    val dim = Tables.supplier(spark, sf).filter(col("s_nationkey") === 1)
    val joined = fact.join(dim, fact("l_suppkey") === dim("s_suppkey"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"), s"no DPP in plan:\n${plan.take(2000)}")
    assert(joined.count() > 0 ||
      Tables.supplier(spark, sf).filter(col("s_nationkey") === 1).count() == 0)
  }

  test("AQE splits a skewed join partition (skew=true in the final plan)") {
    // one hot key carrying most rows, thresholds tuned so AQE flags it
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val left = spark.range(0, 60000)
        .select(when($"id" % 10 === 0, 0L).otherwise($"id").as("k"),
          concat(lit("payload_payload_payload_"), $"id").as("pad"))
      val right = spark.range(0, 3000).select($"id".as("k"), lit("dim").as("d"))
      val joined = left.join(right, "k")
      // execute through THIS queryExecution — count()/write() plan fresh
      // executions and would leave this plan isFinalPlan=false
      assert(joined.collect().nonEmpty)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), s"no skew split in:\n${plan.take(3000)}")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("salted join returns exactly the rows of the plain join") {
    val orders = Tables.orders(spark, sf)
    val customer = Tables.customer(spark, sf)
      .select(col("c_custkey").as("o_custkey"), col("c_name"), col("c_mktsegment"))
    val plain = orders.join(customer, Seq("o_custkey"))
      .select("o_orderkey", "c_name").as[(Long, String)].collect().toSet
    val salted = Salting.saltedJoin(orders, customer, "o_custkey", salts = 7)
      .select("o_orderkey", "c_name").as[(Long, String)].collect().toSet
    assert(salted === plain)
  }

  test("salted left join preserves unmatched rows exactly once") {
    val left = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("k", "lv")
    val right = Seq((1L, "r1")).toDF("k", "rv")
    val out = Salting.saltedJoin(left, right, "k", salts = 5, joinType = "left_outer")
    assert(out.count() === 3)
    assert(out.filter(col("rv").isNull).count() === 2)
  }

  // ---- plan-shape regression guards for the late-r3 operators ----------

  test("passage dedup: map-combined count + broadcast hot-split, no window, " +
      "no cartesian, count exchange reused at runtime (r19 shape)") {
    // the r18 pin asserted the OPPOSITE shape (count window, no
    // join-back) — deliberately replaced in r19: a corpus-hot
    // boilerplate tile lands every occurrence in one unsplittable
    // WindowExec partition (PassageSkewProbe's measured receipt), so
    // the occurrence count is now a map-combined groupBy(passage).count
    // joined back, with tiles above hotTileOcc resolved by BROADCAST
    val df = graft.queries.DedupQueries.dedupPassages(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"occurrence count must not be a count window (unsplittable hot tile):\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastHashJoin"),
      s"hot-split heavy tiles must resolve by broadcast:\n$plan")
    assert(plan.contains("partial_count"),
      s"occurrence count must be map-side combined:\n$plan")
    // the heavy/light branches fork one identical count aggregate; at
    // runtime AQE must REUSE its exchange, not recompute the tiling
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("ReusedExchange"),
      s"count-agg exchange must be reused across the split branches:\n$executed")
  }

  test("scd2 history: a single hash exchange feeds the lead window") {
    val plan = graft.queries.TemporalQueries.scd2History(spark, sf)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1, plan)
    assert(plan.contains("Window"), plan)
  }

  test("bpe corpus tokenization: segment table broadcast, corpus side un-shuffled") {
    val plan = graft.queries.TextQueries.bpeCorpusSubwords(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }
}
