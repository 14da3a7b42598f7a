package graft

import org.apache.spark.sql.functions._

import graft.operators.{CdcMerge, RangePartition}
import graft.queries.MaintenanceQueries
import graft.sources.Tables

/** Semantics and scale-shape checks for the maintenance operators:
  * changelog merge, sampled range-partition planning, and the sorted
  * layout's zone-map pruning effect on real parquet files.
  */
class MaintenanceOpsSpec extends SparkSpec {
  import spark.implicits._

  test("CdcMerge.upsert: LWW per key, delete drops, partial update coalesces, insert lands") {
    val snapshot = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "name", "bal")
    val changelog = Seq(
      // k=1: two updates, seq 5 wins; name null keeps the snapshot name
      (1L, 4L, "U", null.asInstanceOf[String], 11.0),
      (1L, 5L, "U", null.asInstanceOf[String], 12.0),
      // k=2: update then delete — delete wins
      (2L, 6L, "U", null.asInstanceOf[String], 21.0),
      (2L, 7L, "D", null.asInstanceOf[String], 0.0),
      // k=9: insert of a key the snapshot lacks
      (9L, 8L, "I", "ins", 90.0),
      // k=4: delete of a key the snapshot lacks — no-op
      (4L, 9L, "D", null.asInstanceOf[String], 0.0))
      .toDF("k", "seq", "op", "name", "bal")
    val out = CdcMerge.upsert(snapshot, changelog, "k", "seq", "op")
      .orderBy($"k").as[(Long, String, Double, String)].collect().toSeq
    assert(out === Seq(
      (1L, "a", 12.0, "updated"),
      (3L, "c", 30.0, "kept"),
      (9L, "ins", 90.0, "inserted")))
  }

  test("CdcMerge.latestPerKey: tied seqs pick a deterministic winner under any partitioning") {
    // r14: max_by compares ONLY its ordering expression — with bare seq,
    // a tied seq's winner depended on partial-aggregate merge order
    // (flipping across repartitioning/retries); the struct ordering key
    // makes it a pure function of the data
    val rows = Seq((1L, 5L, "U", "a"), (1L, 5L, "D", "b"), (2L, 1L, "I", "c"))
    for (parts <- Seq(1, 3, 7)) {
      val got = CdcMerge.latestPerKey(
          rows.toDF("k", "seq", "op", "v").repartition(parts), "k", "seq", "op")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      // lexicographic (seq, op, v): "U" > "D", so the U/a record wins
      assert(got === Set((1L, "U", "a"), (2L, "I", "c")),
        s"tied-seq winner not deterministic at parts=$parts: $got")
    }
  }

  test("CdcMerge plan has no window sort: latest-per-key is a hash aggregate") {
    val plan = MaintenanceQueries.cdcMergeSnapshot(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"changelog compaction must not use a window:\n$plan")
    assert(plan.contains("max_by") || plan.contains("MaxBy"),
      "latest-per-key should be the max_by aggregate")
  }

  test("streamed CDC merge equals the batch merge row-for-row") {
    val batch = MaintenanceQueries.cdcMergeSnapshot(spark, sf)
      .as[(Long, String, Double, String)].collect().toSeq
    val streamed = MaintenanceQueries.cdcMergeStreamed(spark, sf)
      .as[(Long, String, Double, String)].collect().toSeq
    assert(streamed === batch)
  }

  test("RangePartition.planBoundaries + assign: near-balanced occupancy within sketch error") {
    val orders = Tables.orders(spark, sf)
    val parts = 8
    val bounds = RangePartition.planBoundaries(orders, "o_totalprice", parts, err = 0.01)
    val report = RangePartition.assign(orders, "o_totalprice", bounds)
      .groupBy($"part_id")
      .agg(count(lit(1)), min($"o_totalprice"), max($"o_totalprice"))
      .as[(Int, Long, Double, Double)].collect().toSeq
    assert(report.map(_._1).toSet === (0 until parts).toSet, "every partition id occupied")
    val total = report.map(_._2).sum
    val mean = total.toDouble / parts
    // err=0.01 bounds any cut's rank slip by 1%, so a partition holds at
    // most mean + 2*err*total rows; allow slack for the tiny sf.
    val cap = mean + 2 * 0.01 * total + 8
    assert(report.map(_._2).max <= cap,
      s"occupancy ${report.map(_._2)} exceeds balance cap $cap")
    // bounds must be non-overlapping and ordered
    val sorted = report.sortBy(_._1)
    sorted.sliding(2).foreach {
      case Seq((_, _, _, hiA), (_, _, loB, _)) => assert(hiA <= loB)
      case _ =>
    }
  }

  test("sorted range layout prunes files under a pushed selective filter; arrival order reads everything") {
    val orders = Tables.orders(spark, sf).select($"o_orderkey", $"o_totalprice")
    val base = suiteTempDir("graft_zonemap")
    orders.repartition(8).write.parquet(s"$base/unsorted")
    RangePartition.layout(orders, 8, $"o_totalprice")
      .write.parquet(s"$base/sorted")

    def filesTouched(path: String): Long =
      spark.read.parquet(path)
        .filter($"o_totalprice" > 450000.0)
        .select(input_file_name()).distinct().count()

    val unsortedFiles = filesTouched(s"$base/unsorted")
    val sortedFiles = filesTouched(s"$base/sorted")
    // ~1.2% of rows survive: scattered arrival order leaves a match in
    // nearly every file; the sorted layout concentrates them in one.
    assert(unsortedFiles >= 6, s"expected matches scattered across files, got $unsortedFiles")
    assert(sortedFiles <= 2, s"sorted layout should confine matches, got $sortedFiles")
  }

  test("merged partial aggregates equal the direct aggregate (decimal-exact)") {
    val merged = MaintenanceQueries.aggIncrementalMerge(spark, sf)
      .select($"l_returnflag", $"n", $"sum_qty", $"sum_price")
      .as[(String, Long, Double, Double)].collect().toMap2
    val direct = Tables.lineitem(spark, sf)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum($"l_quantity".cast("decimal(18,2)")).cast("double").as("sum_qty"),
        sum($"l_extendedprice".cast("decimal(18,2)")).cast("double").as("sum_price"))
      .as[(String, Long, Double, Double)].collect().toMap2
    assert(merged === direct)
  }

  test("HLL sketch merge: merged halves equal the direct sketch exactly, and track the exact count") {
    // the registered query now emits the BRACKET (exact + in-bounds flag,
    // r9 ask #8) rather than the raw estimate, so the merge-identity law
    // is pinned here on the same two-half construction the query runs
    val l = Tables.lineitem(spark, sf).select(
      $"l_returnflag", ($"l_orderkey" % 2).as("half"), $"l_partkey")
    def half(h: Int) = l.filter($"half" === h)
      .groupBy($"l_returnflag").agg(hll_sketch_agg($"l_partkey").as("sk"))
    val merged = half(0).unionByName(half(1))
      .groupBy($"l_returnflag").agg(hll_union_agg($"sk").as("sk"))
      .select($"l_returnflag", hll_sketch_estimate($"sk").as("e"))
      .as[(String, Long)].collect().toMap
    val direct = Tables.lineitem(spark, sf)
      .groupBy($"l_returnflag")
      .agg(hll_sketch_estimate(hll_sketch_agg($"l_partkey")).as("e"))
      .as[(String, Long)].collect().toMap
    assert(merged === direct, "register-wise union must reproduce the direct sketch")
    val exact = Tables.lineitem(spark, sf)
      .groupBy($"l_returnflag").agg(countDistinct($"l_partkey").as("d"))
      .as[(String, Long)].collect().toMap
    exact.foreach { case (k, d) =>
      val rel = math.abs(merged(k) - d).toDouble / d
      assert(rel <= 0.05, s"flag $k: sketch ${merged(k)} vs exact $d (rel $rel)")
    }
    // and the registered bracket itself holds on this corpus
    val gated = MaintenanceQueries.aggSketchMerge(spark, sf)
      .as[(String, Long, Boolean)].collect()
    assert(gated.nonEmpty && gated.forall(_._3),
      s"merge_in_bounds must hold per flag: ${gated.mkString(", ")}")
  }

  test("zone-map ledger: arrival-order blocks skip (almost) nothing") {
    val rows = MaintenanceQueries.scanZonemapPrune(spark, sf)
      .as[(Long, Long, Double, Double, Boolean)].collect().toSeq
    assert(rows.nonEmpty)
    val surviving = rows.count(_._5)
    assert(surviving >= (rows.size * 0.8).toInt,
      s"random arrival order should leave nearly all blocks unprunable: $surviving/${rows.size}")
  }

  private implicit class Map2[A, B, C, D](rows: Array[(A, B, C, D)]) {
    def toMap2: Map[A, (B, C, D)] = rows.map { case (a, b, c, d) => a -> ((b, c, d)) }.toMap
  }
}
