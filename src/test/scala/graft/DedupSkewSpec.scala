package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.Dedup

/** Skew torture for the LSH bucket caps (VERDICT r2 item 8): a
  * boilerplate shingle set duplicated far past `maxBucket` must NOT
  * produce a quadratic bucket — and the price (those duplicates escape
  * LSH candidate generation entirely) is the documented recall
  * consequence, with exact dedup as the tool that still catches them.
  */
class DedupSkewSpec extends SparkSpec {
  import spark.implicits._

  // 500 identical boilerplate docs (identical signature -> one bucket in
  // EVERY band), a 20-copy cluster under the cap, and 50 unique docs.
  private val boiler = (1L to 500L).map(i =>
    (i, "all rights reserved this document is confidential and intended solely for the addressee"))
  private val cluster = (1001L to 1020L).map(i =>
    (i, "this moderately duplicated disclaimer paragraph appears exactly twenty times in the corpus"))
  private val uniques = (2001L to 2050L).map(i =>
    (i, s"unique document number $i discussing topic ${i * 7} alongside subject ${i * 13} in detail"))

  test("maxBucket drops the boilerplate bucket: no quadratic blow-up, documented recall cost") {
    val df = (boiler ++ cluster ++ uniques).toDF("doc_id", "text")
    val withSh = df
      .select($"doc_id", TextFunctions.shingles($"text", 3).as("sh"))
      .filter(size($"sh") > 0)
    val withSig = withSh.withColumn("sig", Dedup.minhashSignatureMd5($"sh", 16))
    val pairs = Dedup.lshCandidates(withSig, "doc_id", "sig",
        bands = 4, rowsPerBand = 4, maxBucket = 50)
      .as[(Long, Long)].collect()

    // (a) no quadratic blow-up: unbounded, the boilerplate bucket alone
    // would emit 500*499/2 = 124,750 pairs; the cap drops it whole
    assert(pairs.length < 1000, s"pair explosion: ${pairs.length}")
    val boilerPairs = pairs.filter { case (a, b) => a <= 500L && b <= 500L }
    assert(boilerPairs.isEmpty,
      s"capped bucket leaked ${boilerPairs.length} boilerplate pairs")

    // (b) the cap does not over-prune: the 20-copy cluster sits below
    // maxBucket and is recovered in full (C(20,2) = 190 pairs)
    val clusterPairs = pairs.filter { case (a, b) => a >= 1001L && b <= 1020L && a <= 1020L }
    assert(clusterPairs.length === 190, s"cluster pairs: ${clusterPairs.length}")

    // (c) identical boilerplate is exact-dedup's job, and it still works:
    // one fingerprint group carrying all 500 copies
    val ex = Dedup.exact(df, "doc_id", "text")
      .filter($"n_copies" === 500L).collect()
    assert(ex.length === 1 && ex.head.getAs[Long]("survivor_id") === 1L)
  }

  test("knnJoinLsh maxBucket drops a degenerate identical-embedding bucket") {
    import graft.operators.Similarity
    // 300 identical embeddings: identical signature -> one bucket per
    // band, all past the cap; 50 varied vectors keep their own buckets
    val base = Array.fill(64)(0.5f)
    val dupes = (1L to 300L).map(i => (i, base))
    val others = (1001L to 1050L).map(i =>
      (i, Array.tabulate(64)(d => math.sin(i * 64.0 + d).toFloat)))
    val df = (dupes ++ others).toDF("vec_id", "embedding")
    val capped = Similarity.knnJoinLsh(df, "vec_id", "embedding", k = 3,
        maxBucket = 100)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    assert(!capped.exists { case (a, b) => a <= 300L && b <= 300L },
      "capped bucket leaked duplicate-embedding pairs")
    assert(capped.length <= 50 * 3, s"pair explosion: ${capped.length}")
    // with the cap lifted the duplicate family comes back
    val lifted = Similarity.knnJoinLsh(df, "vec_id", "embedding", k = 3,
        maxBucket = 1000)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    assert(lifted.exists { case (a, b) => a <= 300L && b <= 300L })
  }

  test("raising maxBucket past the skew point restores the pairs (the cap is the only gate)") {
    val df = (boiler.take(60) ++ uniques).toDF("doc_id", "text")
    val withSh = df
      .select($"doc_id", TextFunctions.shingles($"text", 3).as("sh"))
      .filter(size($"sh") > 0)
    val withSig = withSh.withColumn("sig", Dedup.minhashSignatureMd5($"sh", 16))
    def nPairs(cap: Int): Long = Dedup.lshCandidates(withSig, "doc_id", "sig",
      bands = 4, rowsPerBand = 4, maxBucket = cap).count()
    assert(nPairs(50) === 0L)            // 60-copy bucket over the cap: dropped
    assert(nPairs(100) >= 60L * 59 / 2)  // under the cap: full C(60,2) emitted
  }

  test("skew advisor: sketch-measured hot key drives the salt factor, and " +
      "the salted join's max shuffle partition shrinks accordingly") {
    import graft.operators.Salting
    // 50% of the big side on ONE key + a uniform tail over 200 keys
    val n = 40000L
    val big = spark.range(n).select(
      when($"id" < n / 2, lit(7L)).otherwise($"id" % 200L).as("k"),
      $"id".as("payload"))
    val small = spark.range(200).select($"id".as("k"), ($"id" * 10).as("attr"))

    val advice = Salting.advise(big, "k", shufflePartitions = 32)
    assert(advice.totalRows === n)
    // CMS never underestimates: the hot key carries >= n/2 rows
    assert(advice.hottestKeyRows >= n / 2, s"hot estimate ${advice.hottestKeyRows}")
    assert(advice.maxShare >= 0.5 && advice.maxShare < 0.6, s"share ${advice.maxShare}")
    // ceil(0.5 x 32) = 16 (modulo CMS overestimate of a few counts)
    assert(advice.salts >= 16 && advice.salts <= 20, s"salts ${advice.salts}")

    // receipts, with broadcast disabled so both joins actually shuffle
    // (and AQE off so its own skew mitigation can't mask the receipt),
    // at 32 shuffle partitions so per-partition tail noise stays small:
    // the plain join funnels the hot key's half of the data through one
    // partition; the advised salted join splits it ~advice.salts ways
    def withConf(pairs: (String, String)*)(body: => Unit): Unit = {
      val olds = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
      pairs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally olds.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> "32") {
      def maxPart(df: org.apache.spark.sql.DataFrame): Long =
        df.rdd.mapPartitions(it => Iterator(it.size.toLong)).collect().max
      val plain = big.join(small, Seq("k"), "inner")
      val salted = Salting.saltedJoin(big, small, "k", advice.salts)
      assert(salted.count() === plain.count(), "salting changed join semantics")
      val (mp, ms) = (maxPart(plain), maxPart(salted))
      assert(mp >= n / 2, s"plain join should funnel the hot key: $mp")
      assert(ms <= mp / 4,
        s"salted max partition $ms did not drop vs plain $mp")
    }

    // uniform data: the advisor prescribes no salting at all
    val uniform = spark.range(n).select(($"id" % 1000L).as("k"), $"id".as("payload"))
    assert(Salting.advise(uniform, "k", 32).salts === 1)
  }

  test("advised_salted_join: the advise-driven salt splits the hottest real key's " +
      "max-task rows vs the unsalted plan, and the registered plan is salted") {
    import graft.operators.Salting
    val ev = graft.sources.Tables.events(spark, sf)
      .select($"event_type", $"user_id", $"value")
    // real data: each of the 5 event types carries ~20% of the rows, so
    // the advisor must prescribe splitting (ceil(0.2 x 32) ~ 7)
    val advice = Salting.advise(ev, "event_type", shufflePartitions = 32)
    assert(advice.salts >= 2, s"real event_type skew must demand salting: $advice")

    // the registered query actually joins on (key, __salt): the salt
    // column survives into the optimized plan's join keys
    val registered = graft.queries.ExtendedQueries
      .advisedSaltedJoin(spark, sf)
    val optimized = registered.queryExecution.optimizedPlan.toString
    assert(optimized.contains("__salt"),
      "advised_salted_join's plan lost the salt key — no longer salted")

    // receipt on the real table (broadcast + AQE off so both joins
    // shuffle): the hottest key's max-task rows drop by ~the salt factor
    val dim = ev.groupBy($"event_type").agg(count(lit(1)).as("n_type"))
    def withConf(pairs: (String, String)*)(body: => Unit): Unit = {
      val olds = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
      pairs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally olds.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> "32") {
      def maxPart(df: org.apache.spark.sql.DataFrame): Long =
        df.rdd.mapPartitions(it => Iterator(it.size.toLong)).collect().max
      val plain = ev.join(dim, Seq("event_type"), "inner")
      val salted = Salting.saltedJoin(ev, dim, "event_type", advice.salts)
      assert(salted.count() === plain.count(), "salting changed join semantics")
      val (mp, ms) = (maxPart(plain), maxPart(salted))
      assert(ms * 2 <= mp,
        s"salted max partition $ms did not drop vs plain $mp (salts ${advice.salts})")
    }
  }

  test("passage dedup stays linear on a passage shared by thousands of docs") {
    // 5000 docs all opening with the same 10-token boilerplate passage:
    // the count window aggregates the hot key linearly — output stays one
    // row per doc, never a pair set
    val boilerplate = "all rights reserved this document is confidential and intended for addressee"
    val docs = (1L to 5000L)
      .map(i => (i, s"$boilerplate unique tail $i with words ${i * 7} ${i * 13}"))
      .toDF("doc_id", "text")
    val out = Dedup.passageDedup(docs, "doc_id", "text", passageTokens = 10)
    assert(out.count() === 5000)
    val r = out.filter($"doc_id" === 1L).head()
    // first passage (10 boilerplate tokens) duplicated corpus-wide; the
    // unique tail passages survive
    assert(r.getAs[Long]("n_dup_passages") >= 1L)
    assert(r.getAs[Long]("n_kept_tokens") < r.getAs[Long]("n_tokens"))
  }
}
