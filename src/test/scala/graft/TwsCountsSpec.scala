package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.{TwsCounts, TwsSessions, TypeCount, TypedEvent}

/** Map-state running counts (`TwsCounts`): quiet-period emission
  * discipline, superseding snapshots across batches, max(n) settling. */
class TwsCountsSpec extends SparkSpec {
  import spark.implicits._

  private implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext

  test("TWS map-state counts: quiet-period emission, superseding snapshots, settle") {
    val baseMin = 1440L
    def ev(uid: Long, min: Long, tpe: String): TypedEvent =
      TypedEvent(uid, tpe, new Timestamp((baseMin + min) * 60L * 1000L))
    val stream = MemoryStream[TypedEvent]
    val counts = TwsCounts.typeCounts(
      stream.toDS().withWatermark("ts", "600 minutes"))
    TwsSessions.withRocksDb(spark) {
      val q = counts.writeStream.format("memory").queryName("tws_counts_spec")
        .outputMode("append").start()
      try {
        def settled(): Map[(Long, String), Long] =
          spark.table("tws_counts_spec").as[TypeCount].collect()
            .filter(_.user_id >= 0).groupBy(r => (r.user_id, r.event_type))
            .view.mapValues(_.map(_.n).max).toMap
        // batch 1: u1 gets a×2 + b×1. The data batch itself emits
        // nothing (timers only re-arm); the default no-data microbatch
        // right after it advances the watermark past u1's wm+1 timer —
        // the first no-input batch for the key — and flushes the
        // snapshot. processAllAvailable spans both.
        stream.addData(ev(1, 0, "a"), ev(1, 10, "a"), ev(1, 20, "b"))
        q.processAllAvailable()
        assert(settled() === Map((1L, "a") -> 2L, (1L, "b") -> 1L),
          s"first snapshot wrong: ${settled()}")
        // batch 2: u1 gets another 'a' → its re-armed timer flushes a
        // SUPERSEDING snapshot (a→3) in the next no-data batch; settle
        // takes max(n) per (user, type), so b stays at 1
        stream.addData(ev(1, 910, "a"))
        q.processAllAvailable()
        assert(settled() === Map((1L, "a") -> 3L, (1L, "b") -> 1L),
          s"superseding snapshot wrong: ${settled()}")
        // an idle key re-emits nothing: a far pusher row for another
        // user fires no timer for u1 (its timer was consumed, no input
        // re-armed it) — the ledger for u1 is unchanged
        stream.addData(ev(98, 1800, "z"))
        q.processAllAvailable()
        assert(settled() === Map((1L, "a") -> 3L, (1L, "b") -> 1L,
          (98L, "z") -> 1L), s"idle-key ledger changed: ${settled()}")
      } finally q.stop()
    }
  }
}
