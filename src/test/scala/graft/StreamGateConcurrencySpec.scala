package graft

import org.apache.spark.sql.functions._

/** Pins the gate harness's concurrency contract: [[graft.streaming.StreamGate
  * .collect]] is called from a thread POOL by the Verify main, so
  * its scoped session-conf overrides (state partitions, scratch checkpoint
  * root, no-data-batch toggle) must serialize their set→start→restore
  * window. Without that lock, stream B can capture stream A's checkpoint
  * root, and A's teardown deletes B's live state store files mid-run
  * (observed as FileNotFoundException on `right-keyWithIndexToValue` under
  * the 4-thread Verify pool). This spec drives more concurrent gate streams
  * than the pool the bug shipped under and asserts every one completes with
  * exactly its own results, and that no sink view or stream is left
  * behind. A second case pins the view contract on registry queries. */
class StreamGateConcurrencySpec extends SparkSpec {

  test("concurrent gate streams never cross checkpoints and all complete") {
    val n = 6
    val src = suiteTempDir("gate_conc_src")
    spark.range(0, 1000).select(
      col("id"), (col("id") % 7).as("k"),
      // event-time column so each stream is STATEFUL (watermark + window
      // aggregation) — state stores are what the original race corrupted
      (lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).cast("long") +
        col("id") * 60).cast("timestamp").as("ts"))
      .coalesce(1).write.mode("overwrite").parquet(src)
    val schema = spark.read.parquet(src).schema

    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val tasks = (0 until n).map { i =>
      pool.submit(new Runnable {
        override def run(): Unit =
          try {
            val agg = spark.readStream.schema(schema).parquet(src)
              .withWatermark("ts", "1 minute")
              .groupBy(window(col("ts"), "1 hour"), col("k"))
              .agg(count(lit(1)).as("c"))
              .select(col("k"), col("c"))
            val rows = graft.streaming.StreamGate.collect(s"gate_conc_$i", agg)
            // every hour-window closes under the far-past watermark except
            // the last, so each stream must see the same per-key totals
            val got = rows.groupBy(col("k")).agg(sum(col("c")))
              .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
            assert(got.size == 7, s"stream $i: keys=${got.size}")
            assert(got.values.sum > 0, s"stream $i: empty result")
          } catch { case t: Throwable => failures.add(t) }
      })
    }
    tasks.foreach(_.get())
    pool.shutdown()
    assert(failures.isEmpty,
      s"concurrent gate streams failed: ${failures.peek()}")
    // collect dropped every sink view and every stream has terminated;
    // the check is scoped to this test's names, so a stream another
    // suite left running does not fail it
    def ours(name: String): Boolean = name != null && name.startsWith("gate_conc_")
    val views = spark.catalog.listTables().collect().map(_.name).filter(ours)
    assert(views.isEmpty, s"sink views left registered: ${views.mkString(",")}")
    val active = spark.streams.active.map(_.name).filter(ours)
    assert(active.isEmpty, s"streams still active: ${active.mkString(",")}")
    // no leak assertion on the shared scratch root: suites run in
    // parallel in this JVM, so another suite's gate stream may be
    // legitimately mid-run with its dir present
  }

  test("streamed registry queries leave no temp view and read the same rows twice") {
    def viewCount(): Long = spark.catalog.listTables().count()
    Seq("dedup_late_streamed", "cdc_merge_streamed").foreach { q =>
      val before = viewCount()
      val first = SparkEntry.queries(q)(spark, sf).collect().toSeq
      val second = SparkEntry.queries(q)(spark, sf).collect().toSeq
      assert(viewCount() == before, s"$q: temp views ${viewCount()} != $before")
      assert(first.nonEmpty, s"$q: empty result")
      assert(first == second, s"$q: the second call returned different rows")
    }
  }
}
