package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ExprBridge

import graft.expressions.NfcNormalize
import graft.operators.{Skyline, ZOrder}

/** Skyline (Pareto frontier), Z-order layout math, and Unicode
  * normalization — the three layout/curation operators behind
  * `LayoutQueries`. */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  // ---------------------------------------------------------------- skyline

  test("skyline dominance: strict on one axis, ≤ on all") {
    assert(Skyline.dominates(Array(1.0, 2.0), Array(1.0, 3.0)))
    assert(Skyline.dominates(Array(0.0, 3.0), Array(1.0, 3.0)))
    assert(!Skyline.dominates(Array(1.0, 3.0), Array(1.0, 3.0))) // equal: no
    assert(!Skyline.dominates(Array(0.0, 4.0), Array(1.0, 3.0))) // trade-off
  }

  test("skyline frontier matches the O(n^2) definition on a known set") {
    val pts = Seq((1, 5.0, 10.0), (2, 3.0, 20.0), (3, 7.0, 5.0), (4, 3.0, 20.0),
      (5, 4.0, 15.0), (6, 8.0, 30.0), (7, 2.0, 2.0)).toDF("id", "price", "qual")
    // minimize price, maximize qual
    val got = Skyline.frontier(pts, Seq(col("price"), -col("qual")))
      .select("id").as[Int].collect().toSet
    // brute force
    val all = pts.collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
    val want = all.filter { case (_, p, q) =>
      !all.exists { case (_, p2, q2) =>
        (p2 <= p && q2 >= q) && (p2 < p || q2 > q)
      }
    }.map(_._1).toSet
    assert(got == want)
    assert(got.contains(2) && got.contains(4)) // duplicates both survive
  }

  test("skyline is distributive: 1-partition and 8-partition plans agree") {
    val df = graft.sources.Tables.part(spark, sf)
      .select(col("p_partkey"), col("p_size"), col("p_retailprice"))
    val one = Skyline.frontier(df.coalesce(1), Seq(col("p_retailprice"), -col("p_size")))
      .select("p_partkey").as[Long].collect().toSet
    val many = Skyline.frontier(df.repartition(8), Seq(col("p_retailprice"), -col("p_size")))
      .select("p_partkey").as[Long].collect().toSet
    assert(one == many && one.nonEmpty)
  }

  test("per-group skyline: every group's frontier is locally correct") {
    val rows = graft.queries.LayoutQueries.skylineBrand(spark, sf).collect()
    val all = graft.sources.Tables.part(spark, sf)
      .select(col("p_brand"), col("p_partkey"), col("p_size"), col("p_retailprice"))
      .collect().groupBy(_.getString(0))
    rows.groupBy(_.getString(0)).foreach { case (brand, fr) =>
      val ids = fr.map(_.getLong(1)).toSet
      val pts = all(brand).map(r => (r.getLong(1), r.getInt(2), r.getDouble(3)))
      val want = pts.filter { case (_, s, p) =>
        !pts.exists { case (_, s2, p2) => (p2 <= p && s2 >= s) && (p2 < p || s2 > s) }
      }.map(_._1).toSet
      assert(ids == want, s"brand $brand")
    }
  }

  test("skyline worst case: anti-correlated objectives complete without a " +
      "single-task merge of the full set") {
    // x + y = const → NOTHING is dominated: the frontier IS the input,
    // so every local frontier is its whole partition and the old
    // coalesce(1) merge would funnel all n rows through one task. With
    // mergeThreshold forced below n, the 2-objective path must take the
    // distributed sort-sweep instead — verified structurally by the
    // result's partitioning (the coalesce(1) path would leave exactly
    // one partition) — and still be exact.
    val n = 20000
    val pts = spark.range(n.toLong).select(
      col("id"),
      col("id").cast("double").as("x"),
      (lit(n.toDouble) - col("id").cast("double")).as("y"))
      .repartition(8)
    val res = Skyline.frontier(pts, Seq(col("x"), col("y")), mergeThreshold = 1000)
    assert(res.rdd.getNumPartitions > 1,
      "anti-correlated skyline went through a single-task merge")
    assert(res.count() == n.toLong, "every anti-correlated point must survive")

    // the same oversized path stays EXACT when dominated points exist:
    // base anti-correlated grid + a +7/+7 echo of every point — each
    // echo is dominated by its base twin, nothing else changes
    val base = spark.range(n.toLong).select(
      col("id"), col("id").cast("double").as("x"),
      (lit(n.toDouble) - col("id").cast("double")).as("y"))
    val echo = base.select((col("id") + n).as("id"),
      (col("x") + 7).as("x"), (col("y") + 7).as("y"))
    val twins = base.unionByName(echo).repartition(8)
    val kept = Skyline.frontier(twins, Seq(col("x"), col("y")), mergeThreshold = 1000)
      .select("id").as[Long].collect().toSet
    assert(kept == (0L until n.toLong).toSet,
      "sweep must keep exactly the base frontier and drop every echo")
  }

  test("skyline heavy ties: a 90%-duplicate objective point neither skews the " +
      "sweep onto one partition nor breaks exactness") {
    // 90% of rows share ONE (o1, o2) value: range keys on the two
    // objectives alone would put every tied row in a single range — the
    // r9-flagged skew. The tie salt must spread them while keeping the
    // result exact: all tied duplicates of the frontier point survive
    // (ties never dominate each other), dominated scatter drops.
    val n = 20000
    val hot = spark.range((n * 9 / 10).toLong)
      .select(col("id"), lit(1.0).as("x"), lit(2.0).as("y"))
    // scatter strictly dominated by the hot point except one true
    // frontier companion at (0.5, 50.0) — better x, worse y
    val scatter = spark.range((n / 10).toLong)
      .select((col("id") + n).as("id"),
        (lit(3.0) + col("id").cast("double") / 1000).as("x"),
        (lit(4.0) + col("id").cast("double") / 1000).as("y"))
    val companion = spark.range(1)
      .select(lit(-1L).as("id"), lit(0.5).as("x"), lit(50.0).as("y"))
    val pts = hot.unionByName(scatter).unionByName(companion).repartition(8)
    val res = Skyline.frontier(pts, Seq(col("x"), col("y")), mergeThreshold = 1000)
    assert(res.rdd.getNumPartitions > 1,
      "heavy-tie skyline went through a single-task merge")
    // spread receipt: the sweep's input partitioning must not funnel the
    // tied mass into one range — no partition may hold >40% of the rows
    // when 90% of them are one value across 8 ranges
    val tagged = pts
      .withColumn("_obj", array(col("x"), col("y")))
      .withColumn("_sl_tb", monotonically_increasing_id())
      .repartitionByRange(8, col("_obj")(0).asc, col("_obj")(1).asc,
        col("_sl_tb").asc)
    val sizes = tagged.rdd.mapPartitions(it => Iterator(it.size.toLong)).collect()
    assert(sizes.max <= (n * 2L) / 5,
      s"tie salt failed to spread the hot point: ${sizes.mkString(",")}")
    val got = res.select("id").as[Long].collect().toSet
    val want = (0L until (n * 9 / 10).toLong).toSet + -1L
    assert(got == want, "heavy-tie frontier must be the tied point's " +
      "duplicates plus the one companion")
  }

  // ---------------------------------------------------------------- z-order

  test("interleaveBits matches a reference Morton implementation") {
    def morton(x: Long, y: Long, bits: Int): Long =
      (0 until bits).map(i => (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1)))
        .reduce(_ | _)
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (255L, 255L), (170L, 85L), (37L, 201L))
      .toDF("x", "y")
      .withColumn("z", ZOrder.interleaveBits(col("x"), col("y"), 8))
    df.collect().foreach { r =>
      assert(r.getAs[Long]("z") == morton(r.getAs[Long]("x"), r.getAs[Long]("y"), 8))
    }
  }

  test("z-order locality: every 256-z tile spans ≤16 quantized units per axis") {
    // The data-skipping claim: a tile of 256 consecutive z-values covers a
    // 16x16 quantized cell, so per-file min/max stats stay narrow on BOTH
    // dimensions. This is a property of the curve, not the data.
    val rows = graft.queries.LayoutQueries.zorderTiles(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("max_qx") - r.getAs[Long]("min_qx") <= 15L)
      assert(r.getAs[Long]("max_qy") - r.getAs[Long]("min_qy") <= 15L)
    }
  }

  test("quantize maps min to 0, max into the TOP bucket, full range for fractional domains") {
    val df = graft.sources.Tables.events(spark, sf)
      .select(unix_micros(col("ts")).as("v"))
    val b = df.agg(min($"v").as("lo"), max($"v").as("hi"))
    val q = df.crossJoin(broadcast(b))
      .select(ZOrder.quantize($"v", $"lo", $"hi", 64).as("q"))
      .agg(min($"q"), max($"q")).head()
    assert(q.getLong(0) == 0L && q.getLong(1) == 63L,
      s"min/max must land in the bottom/top bucket: $q")
    // r14: the old integer-domain form (divide by range+1) collapsed
    // fractional domains — a [0,1] score used only buckets 0..128 of
    // 256; the clamped form must reach the top bucket on ANY range
    import spark.implicits._
    val frac = (0 to 100).map(_ / 100.0).toDF("v")
      .crossJoin(broadcast(Seq((0.0, 1.0)).toDF("lo", "hi")))
      .select(ZOrder.quantize($"v", $"lo", $"hi", 256).as("q"))
      .agg(min($"q"), max($"q")).head()
    assert(frac.getLong(0) == 0L && frac.getLong(1) == 255L,
      s"fractional [0,1] domain must span the full bucket space: $frac")
    // zero-span guard: a constant column lands wholly in bucket 0
    val const = Seq(5.0, 5.0).toDF("v")
      .crossJoin(broadcast(Seq((5.0, 5.0)).toDF("lo", "hi")))
      .select(ZOrder.quantize($"v", $"lo", $"hi", 16).as("q"))
      .distinct().collect().map(_.getLong(0)).toSeq
    assert(const == Seq(0L), s"zero-span domain must not NaN/throw: $const")
  }

  test("a z-value range layout produces disjoint z-ranges across files") {
    val dir = suiteTempDir("graft_zw")
    val ev = graft.sources.Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"))
    val bounds = ev.agg(min($"user_id").as("lo_u"), max($"user_id").as("hi_u"),
      min($"us").as("lo_t"), max($"us").as("hi_t"))
    val withZ = ev.crossJoin(broadcast(bounds))
      .withColumn("z", ZOrder.interleaveBits(
        ZOrder.quantize($"user_id", $"lo_u", $"hi_u", 256),
        ZOrder.quantize($"us", $"lo_t", $"hi_t", 256), 8))
    graft.operators.RangePartition.layout(
        withZ.select($"event_id", $"user_id", $"us", $"z"), 4, col("z"))
      .write.mode("overwrite").parquet(dir)
    // read back with file name; z-ranges per file must not overlap
    val back = spark.read.parquet(dir)
      .select(col("z"), input_file_name().as("f"))
      .groupBy($"f").agg(min($"z").as("lo"), max($"z").as("hi"))
      .collect().map(r => (r.getAs[Long]("lo"), r.getAs[Long]("hi"))).sortBy(_._1)
    assert(back.length > 1)
    back.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 <= lo2)
      case _ =>
    }
    // row count preserved
    assert(spark.read.parquet(dir).count() == ev.count())
  }

  // ------------------------------------------------------------- normalize

  private def nfc(c: org.apache.spark.sql.Column, form: String = "NFC") =
    ExprBridge.column(NfcNormalize(ExprBridge.expression(c), form))

  test("NFC composes combining sequences; NFD decomposes; KC folds compat") {
    // (input, form, expected) - combining sequences built from escapes so
    // the source file stays editor-safe: e+U+0301 composes under NFC,
    // cafe'(precomposed) decomposes under NFD, circled-one and the fi
    // ligature fold under NFKC, A+U+030A composes to Aring.
    val cases = Seq(
      ("e\u0301", "NFC", "\u00e9"),
      ("\u00e9", "NFD", "e\u0301"),
      ("caf\u00e9", "NFD", "cafe\u0301"),
      ("\u2460", "NFKC", "1"),
      ("A\u030a", "NFC", "\u00c5"),
      ("\ufb01", "NFKC", "fi"))
    cases.foreach { case (in, form, want) =>
      val got = Seq(in).toDF("s").select(nfc(col("s"), form).as("n")).head().getString(0)
      assert(got == want, s"$form($in)")
    }
    // char count drops when NFC composes a combining pair
    val lens = Seq("e\u0301").toDF("s")
      .select(length(col("s")).as("raw"), length(nfc(col("s"))).as("norm")).head()
    assert(lens.getInt(0) == 2 && lens.getInt(1) == 1)
  }

  test("unicode_normalize: null passthrough, already-normal identity, bad form rejected") {
    val df = Seq(Some("plain ascii"), None).toDF("s")
    val out = df.select(nfc(col("s")).as("n")).collect()
    assert(out.map(r => Option(r.getString(0))).toSet ==
      Set(Some("plain ascii"), None))
    intercept[IllegalArgumentException] {
      NfcNormalize(ExprBridge.expression(col("s")), "NFX")
    }
  }

  test("unicode_normalize interpreted and codegen paths agree") {
    val data = Seq("éﬁ① mixed", "café", "", "no-op ascii")
    val df = data.toDF("s")
    val withCodegen = df.select(nfc(col("s")).as("n")).collect().map(_.getString(0))
    val interpreted = data.map { s =>
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)
    }
    assert(withCodegen.toSeq == interpreted)
  }
}
