package graft

import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions, VectorFunctions}
import graft.operators.{AsOfJoin, Dedup, Similarity}

/** Degenerate-input behavior: every operator must return an empty (or
  * well-defined) result on empty frames rather than throwing — the
  * partitions-with-no-data case every real cluster job hits.
  */
class EdgeCasesSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
  private lazy val emptyVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")

  test("dedup operators on an empty corpus return empty, not errors") {
    assert(Dedup.exact(emptyDocs, "doc_id", "text").count() === 0)
    assert(Dedup.minhashNearDups(emptyDocs, "doc_id", "text").count() === 0)
    assert(Dedup.simhashNearDups(emptyDocs, "doc_id", "text").count() === 0)
    assert(Dedup.winnowingCandidates(emptyDocs, "doc_id", "text", 3, 4, 1).count() === 0)
    assert(Dedup.ngramJaccardFingerprintBlocked(emptyDocs, "doc_id", "text", 3, 0.8)
      .count() === 0)
  }

  test("similarity operators on empty corpus / empty query sets return empty") {
    val oneVec = Seq((1L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    assert(Similarity.bruteForceTopK(emptyVecs, oneVec, "vec_id", "embedding", 5).count() === 0)
    assert(Similarity.bruteForceTopK(oneVec, emptyVecs, "vec_id", "embedding", 5).count() === 0)
    assert(Similarity.lshTopK(oneVec, emptyVecs, "vec_id", "embedding", 5).count() === 0)
    assert(Similarity.knnJoinLsh(emptyVecs, "vec_id", "embedding", 5).count() === 0)
    assert(Similarity.nearDupPairs(emptyVecs, "vec_id", "embedding", 0.5).count() === 0)
    assert(Similarity.nearDupPairsLsh(emptyVecs, "vec_id", "embedding", 0.5).count() === 0)
  }

  test("PQ on a corpus smaller than k still trains and encodes every vector") {
    import graft.operators.Pq
    // 3 vectors, k=16 codebook: the seed LIMIT returns what exists;
    // every vector must still get m codes (no empty-codebook crash)
    val tiny = Seq(
      (1L, Array.fill(64)(0.1f)), (2L, Array.fill(64)(-0.2f)),
      (3L, Array.tabulate(64)(i => if (i % 2 == 0) 0.5f else -0.5f))
    ).toDF("vec_id", "embedding")
    val cb = Pq.codebook(tiny, "vec_id", "embedding", dim = 64, m = 8, k = 16)
    val codes = Pq.encode(tiny, cb, "vec_id", "embedding", dim = 64, m = 8).collect()
    assert(codes.length === 3)
    codes.foreach(r => assert(r.getAs[Seq[Int]]("codes").length === 8))
    // PQ on an empty corpus: empty codebook and empty codes, no throw
    assert(Pq.codebook(emptyVecs, "vec_id", "embedding", 64, 8, 16).count() === 0)
  }

  test("BM25 with no shared query terms returns empty, not errors") {
    import graft.queries.RetrievalQueries
    val docs = Seq(
      (0L, "alpha beta gamma"), // the query — shares no term with corpus
      (1L, "delta epsilon zeta"), (2L, "eta theta iota")
    ).toDF("doc_id", "text")
    assert(RetrievalQueries.bm25TopKOf(docs, col("doc_id") === 0, k = 5).count() === 0)
    // and an empty corpus side (everything is a query)
    assert(RetrievalQueries.bm25TopKOf(docs, lit(true), k = 5).count() === 0)
  }

  test("as-of join with an empty right side keeps all left rows unmatched") {
    val left = Seq((1L, 10L, 1L), (2L, 20L, 1L)).toDF("event_id", "tsv", "user_id")
      .select(col("event_id"), timestamp_micros(col("tsv")).as("ts"), col("user_id"))
    val right = Seq.empty[(Long, Long, Long)].toDF("event_id", "tsv", "user_id")
      .select(col("event_id"), timestamp_micros(col("tsv")).as("ts"), col("user_id"))
    val out = AsOfJoin.joinAsOf(left, right, "user_id", "user_id", "ts", "ts", "event_id")
    assert(out.count() === 2)
    assert(out.filter(col("r_event_id").isNotNull).count() === 0)
  }

  test("text expressions handle empty and whitespace-only strings") {
    val df = Seq((1L, ""), (2L, "   "), (3L, "one")).toDF("id", "text")
    val got = df.select($"id",
      TextFunctions.shingles($"text", 3).as("sh"),
      TextFunctions.winnowingFingerprints($"text", 3, 4).as("wf"),
      TextFunctions.minShingleFingerprint($"text", 3).as("mf"),
      TextFunctions.fingerprint($"text").as("fp"))
      .collect().map(r => r.getLong(0) ->
        (r.getSeq[String](1), r.getSeq[String](2), r.isNullAt(3))).toMap
    // sub-k-token docs: empty shingle/fingerprint sets, null min-shingle
    got.foreach { case (_, (sh, wf, mfNull)) =>
      assert(sh.isEmpty && wf.isEmpty && mfNull)
    }
  }

  test("connected components on an empty pair list returns empty") {
    val emptyPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.connectedComponents(emptyPairs).count() === 0)
  }

  test("avro decode edge inputs: empty body record, empty strings") {
    val schema =
      """{"type":"record","name":"E","fields":[
        |  {"name":"s","type":"string"},
        |  {"name":"os","type":["null","string"],"default":null}
        |]}""".stripMargin
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val row = new GenericInternalRow(Array[Any](UTF8String.fromString(""), null))
    val bytes = graft.avro.AvroCodec.encode(row, schema, 1)
    val back = graft.avro.AvroCodec.decode(bytes, schema, permissive = false)
    assert(back.getUTF8String(0).toString === "")
    assert(back.isNullAt(1))
    // empty byte array is never a valid frame
    assert(graft.avro.AvroCodec.decode(Array.empty[Byte], schema, permissive = true) == null)
  }

  test("int8 quantization guards the zero-vector division") {
    val zero = Seq((1L, Array.fill(4)(0.0f))).toDF("vec_id", "embedding")
    val q = zero
      .withColumn("scale", sqrt(VectorFunctions.normSq($"embedding")))
      .select(transform($"embedding",
        x => when($"scale" === 0.0, lit(0))
          .otherwise(round(x.cast("double") / $"scale" * 127).cast("int"))).as("q"))
      .head().getSeq[Int](0)
    assert(q === Seq(0, 0, 0, 0))
  }

  test("cosine on empty arrays yields 0 (zero-norm contract)") {
    val df = Seq((Array.empty[Float], Array.empty[Float])).toDF("a", "b")
    val v = df.select(VectorFunctions.cosine($"a", $"b")).head().getDouble(0)
    assert(v === 0.0)
  }

  test("OCF split reader: empty dir reads empty; zero-length files planned away") {
    val dir = suiteTempDir("graft_ocf_empty")
    val conf = spark.sparkContext.hadoopConfiguration
    assert(graft.avro.AvroFiles.planSplits(conf, dir, 1 << 20).isEmpty)
    assert(graft.avro.AvroFiles.read(spark, dir,
      AvroFilesSpec.eventSchemaJson).count() === 0)
    java.nio.file.Files.createFile(java.nio.file.Paths.get(dir, "zero.avro"))
    assert(graft.avro.AvroFiles.planSplits(conf, dir, 1 << 20).isEmpty)
  }

  test("replay sink rejects an input missing the producer-record columns") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.SQLContext]
    val e = intercept[Exception] {
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Int]
      mem.addData(1)
      val dir = suiteTempDir("graft_sink_bad")
      val q = mem.toDF().writeStream
        .format(graft.sources.KafkaReplay.ShortName)
        .option("path", dir)
        .option("checkpointLocation",
          suiteTempDir("graft_sink_bad_ckpt"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    assert(e.getMessage.contains("sink needs columns")
      || Option(e.getCause).exists(_.getMessage.contains("sink needs columns")))
  }

  test("ensureFixture: self-repairs a partial fixture dir and is idempotent once committed") {
    import java.nio.file.{Files, Paths}
    val root = Paths.get(suiteTempDir("graft_fixture_spec"))
    val dir = root.resolve("fixture_v1")
    // a crashed legacy write: part file present, NO _SUCCESS marker
    Files.createDirectories(dir)
    Files.write(dir.resolve("part-00000.parquet"), Array[Byte](1, 2, 3))
    graft.queries.CoverageQueries.ensureFixture(dir) { tmp =>
      Seq((1L, "ok")).toDF("id", "v").write.mode("overwrite").parquet(tmp)
    }
    assert(Files.exists(dir.resolve("_SUCCESS")),
      "partial dir must be replaced by the committed copy")
    assert(spark.read.parquet(dir.toString).collect().map(_.getString(1)).toSeq === Seq("ok"))
    // committed: a second call must not rewrite (mtimes unchanged)
    def listing = {
      val s = Files.list(dir)
      try s.toArray.map { p =>
        val path = p.asInstanceOf[java.nio.file.Path]
        path.getFileName.toString -> Files.getLastModifiedTime(path).toMillis
      }.toMap
      finally s.close()
    }
    val before = listing
    graft.queries.CoverageQueries.ensureFixture(dir) { tmp =>
      fail("writer must not run once the fixture is committed")
    }
    assert(listing === before, "committed fixture must not be rewritten")
  }

  test("windowed funnel boundary semantics on synthetic histories") {
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    val H48 = 48L * 60
    // (user, minute, event_id, type)
    val rows = Seq(
      // u1: clean in-order conversion inside the window
      (1L, 0L, 1L, "signup"), (1L, 10L, 2L, "view"), (1L, 20L, 3L, "purchase"),
      // u2: view BEFORE signup never counts; no later view -> no match
      (2L, 0L, 10L, "view"), (2L, 5L, 11L, "signup"), (2L, 10L, 12L, "purchase"),
      // u3: everything in order but the purchase lands 1 minute past the
      // 48h deadline anchored at the FIRST signup
      (3L, 0L, 20L, "signup"), (3L, 10L, 21L, "view"),
      (3L, H48 + 1, 22L, "purchase"),
      // u4: purchase EXACTLY at the deadline — window is inclusive
      (4L, 0L, 30L, "signup"), (4L, 10L, 31L, "view"), (4L, H48, 32L, "purchase"),
      // u5: anchor is the FIRST signup; a second signup can't re-open the
      // window even though signup2->view->purchase fits inside 48h of it
      (5L, 0L, 40L, "signup"), (5L, H48 * 3, 41L, "signup"),
      (5L, H48 * 3 + 10, 42L, "view"), (5L, H48 * 3 + 20, 43L, "purchase"),
      // u6: same-timestamp tie broken by event_id — the view shares the
      // signup's instant but has a LOWER id, so it orders before the
      // signup and must not count
      (6L, 0L, 51L, "view"), (6L, 0L, 52L, "signup"), (6L, 10L, 53L, "purchase"))
    val ev = rows.map { case (u, m, id, t) => (id, ts(m), u, t, 0.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = graft.queries.TemporalQueries.eventsSequenceMatchFrom(ev)
      .select($"user_id", $"matched").as[(Long, Boolean)].collect().toMap
    assert(got === Map(1L -> true, 2L -> false, 3L -> false,
      4L -> true, 5L -> false, 6L -> false))
  }

  test("cogroup diff: all three arms on synthetic keys, exact decimal line totals") {
    // the fixture data never produces orphan_lines (every l_orderkey
    // exists in orders) — synthetic sides drive every arm: key 1 ok,
    // key 2 empty_order, key 3 orphan_lines; 0.005 must round HALF_UP
    val orders = Seq((1L, 100.0), (2L, 50.0)).toDS()
    val lines = Seq((1L, 10.105), (1L, 20.0), (3L, 7.0)).toDS()
    val got = graft.queries.RelationalQueries.cogroupDiff(orders, lines)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got === Map(
      1L -> (("ok", 2L, 30.11)),
      2L -> (("empty_order", 0L, 0.0)),
      3L -> (("orphan_lines", 1L, 7.0))), s"arms wrong: $got")
  }
}
