package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat again and again"), // near dup of 1
    (4L, "completely different text about spark query engines at scale"),
    (5L, "tiny")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts, min-id survivor") {
    val out = Dedup.exact(docs, "doc_id", "text").orderBy("survivor_id").collect()
    assert(out.length === 4) // 1+2 collapse
    val byId = out.map(r => r.getAs[Long]("survivor_id") -> r.getAs[Long]("n_copies")).toMap
    assert(byId(1L) === 2L)
    assert(byId(3L) === 1L)
  }

  test("substring spans: straddling copies caught, islands merge, disjoint spans separate") {
    def words(prefix: String, n: Int): Seq[String] = (0 until n).map(prefix + _)
    val fixture = Seq(
      // scenario A: doc 2 copies doc 1's tokens a10..a19 — a 10-token
      // run that straddles any 10-token tile boundary (passageDedup's
      // blind spot); expected maximal span [10,20) in doc 1, [5,15) in 2
      1L -> words("a", 30).mkString(" "),
      2L -> (words("b", 5) ++ words("a", 20).drop(10) ++ words("bb", 5)).mkString(" "),
      // scenario B: full-copy pair — every gram duplicated, ratio 1.0
      3L -> words("c", 12).mkString(" "),
      4L -> words("c", 12).mkString(" "),
      // scenario C: unique doc with grams; short doc below k
      5L -> words("d", 9).mkString(" "),
      6L -> words("e", 5).mkString(" "),
      // scenario D: two SEPARATE shared blocks per doc → two islands
      7L -> (words("f", 8) ++ words("x", 3) ++ words("g", 8)).mkString(" "),
      8L -> (words("f", 8) ++ words("y", 3) ++ words("g", 8)).mkString(" ")
    ).toDF("doc_id", "text")
    val out = Dedup.substringSpans(fixture, "doc_id", "text", k = 8)
      .orderBy("doc_id")
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("total_tokens"), r.getAs[Long]("n_spans"),
          r.getAs[Long]("dup_tokens"), r.getAs[Double]("dup_ratio"))))
      .toMap
    assert(out(1L) === ((30L, 1L, 10L, 0.333333)), s"doc1: ${out(1L)}")
    assert(out(2L) === ((20L, 1L, 10L, 0.5)), s"doc2: ${out(2L)}")
    assert(out(3L) === ((12L, 1L, 12L, 1.0)), s"doc3: ${out(3L)}")
    assert(out(4L) === ((12L, 1L, 12L, 1.0)), s"doc4: ${out(4L)}")
    assert(out(5L) === ((9L, 0L, 0L, 0.0)), s"doc5: ${out(5L)}")
    assert(out(6L) === ((5L, 0L, 0L, 0.0)), s"doc6: ${out(6L)}")
    assert(out(7L) === ((19L, 2L, 16L, 0.842105)), s"doc7: ${out(7L)}")
    assert(out(8L) === ((19L, 2L, 16L, 0.842105)), s"doc8: ${out(8L)}")
  }

  test("passage dedup: corpus-wide and within-doc repeats flagged, tail passage kept") {
    val d = Seq(
      (1L, "a b c d e f g h"), // passages: "a b c d", "e f g h"
      (2L, "a b c d x y z w"), // shares "a b c d" with doc 1
      (3L, "p q r s t"),       // unique passages, short tail "t"
      (4L, "m n o p m n o p")  // self-repeats: both passages duplicated
    ).toDF("doc_id", "text")
    val out = Dedup.passageDedup(d, "doc_id", "text", passageTokens = 4)
      .orderBy("doc_id").collect()
    def row(i: Int) = (out(i).getAs[Long]("n_passages"),
      out(i).getAs[Long]("n_dup_passages"), out(i).getAs[Long]("n_tokens"),
      out(i).getAs[Long]("n_kept_tokens"))
    assert(row(0) === ((2L, 1L, 8L, 4L)))
    assert(row(1) === ((2L, 1L, 8L, 4L)))
    assert(row(2) === ((2L, 0L, 5L, 5L)))
    assert(row(3) === ((2L, 2L, 8L, 0L)))
    assert(out(3).getAs[Double]("dup_share") === 1.0)
  }

  test("minhash LSH finds exact and near dups, not unrelated docs") {
    val pairs = Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), "exact dup pair missed")
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)), "near dup pair missed")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L), "unrelated doc matched")
  }

  test("minhash jaccard value is the exact shingle jaccard") {
    val j = Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.5)
      .filter($"id_a" === 1L && $"id_b" === 2L)
      .select("jaccard").as[Double].head()
    assert(j === 1.0)
  }

  test("fast (xxhash64) minhash: exact dups always collide, unrelated never match") {
    // J=1 pairs match in every band under ANY hash family; J≈0.5 pairs are
    // luck-of-the-family (p≈0.3 at 4 bands × r=4), so only the guaranteed
    // behaviors are asserted here.
    val fastPairs = Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.5, useMd5 = false)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(fastPairs.contains((1L, 2L)), "exact dup pair missed by fast path")
    assert(!fastPairs.exists(p => p._1 == 4L || p._2 == 4L), "unrelated doc matched")
  }

  test("simhash: identical docs get hamming 0, near dups small, different large") {
    val sig = docs.select($"doc_id", Dedup.simhash64(TextFunctions.tokens($"text")).as("s"))
      .as[(Long, Long)].collect().toMap
    assert(sig(1L) === sig(2L))
    val hammingNear = java.lang.Long.bitCount(sig(1L) ^ sig(3L))
    val hammingFar = java.lang.Long.bitCount(sig(1L) ^ sig(4L))
    assert(hammingNear < hammingFar, s"near=$hammingNear far=$hammingFar")
  }

  test("simhash64 and minhash signature tolerate null array elements") {
    val withNulls = Seq((1L, Seq(Some("alpha"), None, Some("beta"))),
      (2L, Seq(Some("alpha"), Some("beta")))).toDF("id", "toks")
      .select($"id", $"toks".cast("array<string>").as("toks"))
    val sigs = withNulls.select($"id",
      Dedup.simhash64($"toks").as("sim"),
      Dedup.minhashSignatureMd5($"toks", 8).as("mh"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getSeq[String](2))).toMap
    // null elements contribute nothing: row 1 ≡ row 2
    assert(sigs(1L)._1 === sigs(2L)._1)
    assert(sigs(1L)._2 === sigs(2L)._2)
  }

  test("md5-family simhash: identical docs collide; banded pairs = brute force for hamming<=3") {
    val real = graft.sources.Tables.documents(spark, sf)
    val sigs = real.select($"doc_id",
      Dedup.simhash64Md5(TextFunctions.tokens($"text")).as("sig"))
      .as[(Long, Long)].collect()
    // exact-dup docs share a signature
    val byText = real.select($"doc_id", $"text").as[(Long, String)].collect()
      .groupBy(_._2).values.filter(_.length > 1)
    val sigMap = sigs.toMap
    byText.foreach { grp =>
      assert(grp.map(g => sigMap(g._1)).distinct.length === 1)
    }
    // banded (pigeonhole-exact) result equals brute-force hamming filter
    val banded = Dedup.simhashNearDups(real, "doc_id", "text",
      maxHamming = 3, maxBucket = 1000000, useMd5 = true)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val brute = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs
      if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (ia, ib)).toSet
    assert(banded === brute)
  }

  test("xxhash64 simhash fast path: hamming bound respected, repartition-deterministic " +
      "(its gate coverage — the hash is engine-private, not approximate)") {
    val real = graft.sources.Tables.documents(spark, sf)
    val a = Dedup.simhashNearDups(real, "doc_id", "text", maxHamming = 8)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect().sorted.toSeq
    val b = Dedup.simhashNearDups(real.repartition(7), "doc_id", "text", maxHamming = 8)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect().sorted.toSeq
    assert(a === b, "fast-path pairs must not depend on partitioning")
    // every emitted pair honors the rerank threshold against recomputed sigs
    val sigs = real.select($"doc_id", Dedup.simhash64(TextFunctions.tokens($"text")).as("s"))
      .as[(Long, Long)].collect().toMap
    a.foreach { case (ia, ib, h) =>
      assert(java.lang.Long.bitCount(sigs(ia) ^ sigs(ib)) === h && h <= 8,
        s"pair ($ia,$ib) violates the hamming contract")
    }
  }

  test("connected components: chains collapse transitively, islands stay apart") {
    // chain 1-2-3-4 (diameter 3), pair 10-11, pair 20-21 bridged to 10 via 11-20
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (20L, 21L), (11L, 20L)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L, 4L).map(got) === Seq(1L, 1L, 1L, 1L))
    assert(Seq(10L, 11L, 20L, 21L).map(got).distinct === Seq(10L))
  }

  test("connected components: distributed loop == driver union-find on real LSH pairs") {
    // the size gate picks the union-find at gate scale; force the
    // distributed min-label loop (driverEdgeLimit=0) and require the
    // identical closure — keeps the 100 TB path exercised and equivalent
    val docs = graft.sources.Tables.documents(spark, sf)
    val pairs = Dedup.minhashNearDups(docs, "doc_id", "text")
      .select("id_a", "id_b")
    val local = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toSet
    val distributed = Dedup.connectedComponents(pairs, driverEdgeLimit = 0L)
      .as[(Long, Long)].collect().toSet
    assert(local.nonEmpty)
    assert(local === distributed)
    // a long chain exercises pointer jumping through the loop too
    val chain = (1L to 40L).sliding(2).map(s => (s.head, s.last)).toSeq
      .toDF("id_a", "id_b")
    val chainGot = Dedup.connectedComponents(chain, driverEdgeLimit = 0L)
      .as[(Long, Long)].collect().toMap
    assert((1L to 40L).map(chainGot).distinct === Seq(1L))
  }

  test("connected components: string ids work on BOTH paths with a stable schema (r15)") {
    // the driver arm used to assume numeric ids (ClassCastException on
    // exactly the small corpora it serves) and hardwire LongType output
    // (schema flipped with edge count)
    val pairs = Seq(("doc-b", "doc-a"), ("doc-c", "doc-b"), ("x", "y"))
      .toDF("id_a", "id_b")
    val local = Dedup.connectedComponents(pairs)
    val distributed = Dedup.connectedComponents(pairs, driverEdgeLimit = 0L)
    assert(local.schema === distributed.schema,
      "driver and distributed arms must agree on the output schema")
    val lm = local.as[(String, String)].collect().toMap
    val dm = distributed.as[(String, String)].collect().toMap
    assert(lm === dm)
    assert(Seq("doc-a", "doc-b", "doc-c").map(lm).distinct === Seq("doc-a"))
    assert(lm("x") === "x" && lm("y") === "x")
    // int ids keep their type on the driver arm too
    val intPairs = Seq((1, 2), (2, 3)).toDF("id_a", "id_b")
    assert(Dedup.connectedComponents(intPairs).schema("node").dataType ===
      org.apache.spark.sql.types.IntegerType)
  }

  test("string-id surrogate mapping is memoized per input plan — identical " +
      "re-invocations share ONE frame/pin (r16 ADVICE #2)") {
    val pairs = Seq(("doc-b", "doc-a"), ("doc-c", "doc-b"), ("x", "y"))
      .toDF("id_a", "id_b").select(col("id_a"), col("id_b"))
    val m1 = Dedup.surrogateMapping(spark, pairs)
    val m2 = Dedup.surrogateMapping(spark, pairs)
    assert(m1 eq m2, "plan-identical inputs must return the SAME memoized frame")
    // a clearCache between bench samples drops the cache entry but not
    // the memo: the next hit re-persists the same frame
    spark.catalog.clearCache()
    val m3 = Dedup.surrogateMapping(spark, pairs)
    assert(m3 eq m1)
    assert(m3.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "memo hit after clearCache must re-persist")
    // rank-order contract unchanged: nid = global sorted rank
    val got = m3.orderBy("nid").as[(String, Long)].collect().toSeq
    assert(got === Seq(("doc-a", 0L), ("doc-b", 1L), ("doc-c", 2L),
      ("x", 3L), ("y", 4L)))
    // a DIFFERENT input plan gets its own entry
    val other = Seq(("p", "q")).toDF("id_a", "id_b")
    assert(!(Dedup.surrogateMapping(spark, other) eq m1))
  }

  test("passageRewrite drops exactly the corpus-duplicated tiles and " +
      "reassembles survivors in document order (r18; r19 emits clean_text)") {
    // tiles of 3: doc 1 = [A][B], doc 2 = [A][C], doc 3 = [D] — tile A
    // ("x y z") is duplicated corpus-wide, everything else unique
    val docs = Seq(
      (1L, "x y z a b c"),
      (2L, "x y z d e f"),
      (3L, "g h i")).toDF("doc_id", "text")
    val out = Dedup.passageRewrite(docs, "doc_id", "text", passageTokens = 3)
      .orderBy("doc_id")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_passages"),
        r.getAs[Long]("n_kept"), r.getAs[String]("clean_text"),
        r.getAs[String]("clean_md5")))
    def m(s: String) = org.apache.commons.codec.digest.DigestUtils.md5Hex(s)
    assert(out.toSeq === Seq(
      (1L, 2L, 1L, "a b c", m("a b c")),   // duplicated head tile dropped
      (2L, 2L, 1L, "d e f", m("d e f")),
      (3L, 1L, 1L, "g h i", m("g h i")))) // untouched doc emits itself
    // a FULLY duplicated doc still emits a row: clean_text '' / md5('')
    val dup = Seq((1L, "p q r"), (2L, "p q r")).toDF("doc_id", "text")
    val full = Dedup.passageRewrite(dup, "doc_id", "text", passageTokens = 3)
      .orderBy("doc_id").collect()
    assert(full.map(_.getAs[Long]("n_kept")).toSeq === Seq(0L, 0L))
    assert(full.map(_.getAs[String]("clean_text")).distinct.toSeq === Seq(""))
    assert(full.map(_.getAs[String]("clean_md5")).distinct.toSeq === Seq(m("")))
  }

  test("passageRewrite law: clean_md5 IS md5(clean_text) on real docs " +
      "(VERDICT r18 ask #4)") {
    // the law must be checked through an INDEPENDENT md5 implementation
    // (commons-codec on the driver), not by re-applying Spark's md5 to
    // the same column inside the same plan — that filter is 0 by
    // construction for ANY clean_text content and can never fail
    val rows = Dedup.passageRewrite(graft.sources.Tables.documents(spark, sf),
        "doc_id", "text", passageTokens = 10)
      .select(col("doc_id"), col("clean_text"), col("clean_md5"))
      .collect()
    assert(rows.nonEmpty)
    val bad = rows.filter { r =>
      org.apache.commons.codec.digest.DigestUtils.md5Hex(
        r.getAs[String]("clean_text")) != r.getAs[String]("clean_md5")
    }
    assert(bad.isEmpty,
      s"clean_md5 must fingerprint exactly the emitted clean_text column; " +
        s"first mismatch doc_id=${bad.headOption.map(_.getAs[Long]("doc_id"))}")
  }

  test("passage hot-tile split (hotTileOcc) is row-equal to the plain " +
      "join-back on real docs, for both family members (r19)") {
    val docs = graft.sources.Tables.documents(spark, sf)
    // three postures: 0 = plain join (no split), 2 = EVERY duplicated
    // tile takes the broadcast path (the maximal split, so any drop or
    // double-count in the heavy/light union shows up), default 10000 =
    // the shipped posture (heavy set empty at this scale)
    val plainD = Dedup.passageDedup(docs, "doc_id", "text", 10, hotTileOcc = 0L)
      .orderBy("doc_id").collect().toSeq
    assert(Dedup.passageDedup(docs, "doc_id", "text", 10, hotTileOcc = 2L)
      .orderBy("doc_id").collect().toSeq === plainD)
    assert(Dedup.passageDedup(docs, "doc_id", "text", 10)
      .orderBy("doc_id").collect().toSeq === plainD)
    val plainR = Dedup.passageRewrite(docs, "doc_id", "text", 10, hotTileOcc = 0L)
      .orderBy("doc_id").collect().toSeq
    assert(Dedup.passageRewrite(docs, "doc_id", "text", 10, hotTileOcc = 2L)
      .orderBy("doc_id").collect().toSeq === plainR)
    assert(Dedup.passageRewrite(docs, "doc_id", "text", 10)
      .orderBy("doc_id").collect().toSeq === plainR)
  }

  test("passageScreen: arriving docs scored by standing-corpus tile overlap " +
      "(r19 ingest screen)") {
    // standing corpus tiles (k=3): [x y z], [d e f]; arriving doc 10 =
    // [x y z][a b c] (half contaminated), doc 11 = [q r s] (clean),
    // doc 12 = [x y z][d e f] (fully contaminated)
    val standing = Seq((1L, "x y z d e f"), (2L, "x y z")).toDF("doc_id", "text")
    val hist = Dedup.hotPassages(standing, "doc_id", "text",
      passageTokens = 3, minOcc = 1L)
    val arriving = Seq(
      (10L, "x y z a b c"),
      (11L, "q r s"),
      (12L, "x y z d e f")).toDF("doc_id", "text")
    val out = Dedup.passageScreen(arriving, hist, "doc_id", "text",
        passageTokens = 3)
      .orderBy("doc_id")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tiles"),
        r.getAs[Long]("n_contam"), r.getAs[Double]("contam_share")))
    assert(out.toSeq === Seq(
      (10L, 2L, 1L, 0.5),
      (11L, 1L, 0L, 0.0),
      (12L, 2L, 2L, 1.0)))
  }

  test("hotPassages mines exactly the corpus-duplicated tiles with counts " +
      "and min carrier (r19)") {
    val docs = Seq(
      (5L, "x y z a b c"),
      (2L, "x y z d e f"),
      (9L, "x y z g h i")).toDF("doc_id", "text")
    val out = Dedup.hotPassages(docs, "doc_id", "text", passageTokens = 3,
        minOcc = 2L)
      .collect().map(r => (r.getAs[String]("passage"), r.getAs[Long]("n_occ"),
        r.getAs[Long]("first_doc")))
    assert(out.toSeq === Seq(("x y z", 3L, 2L)))
  }

  test("invalidateComponentIdMemo drops the session's surrogate entries so a " +
      "plan-identical input rebuilds from current data (r17 ADVICE #1)") {
    val pairs = Seq(("m-b", "m-a")).toDF("id_a", "id_b")
      .select(col("id_a"), col("id_b"))
    val before = Dedup.surrogateMapping(spark, pairs)
    assert(Dedup.surrogateMapping(spark, pairs) eq before, "memo primed")
    Dedup.invalidateComponentIdMemo(spark)
    assert(before.storageLevel === org.apache.spark.storage.StorageLevel.NONE,
      "invalidation must unpersist the dropped entry")
    val after = Dedup.surrogateMapping(spark, pairs)
    assert(!(after eq before),
      "post-invalidation hit must REBUILD — a mutated-in-place source would " +
        "otherwise silently reuse a mapping missing its new ids")
    // the rebuilt mapping is live and correct
    assert(after.orderBy("nid").as[(String, Long)].collect().toSeq ===
      Seq(("m-a", 0L), ("m-b", 1L)))
  }

  test("winnowing near-dups find the true J>=0.8 pairs on real docs") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val cands = Dedup.winnowingCandidates(docs, "doc_id", "text",
      k = 3, window = 4, minShared = 5, maxBucket = 100).select("id_a", "id_b")
    val shingled = docs.select($"doc_id", TextFunctions.shingles($"text", 3).as("sh"))
      .filter(size($"sh") > 0)
    val viaWinnowing = Dedup.jaccardVerify(cands, shingled, "doc_id", "sh", 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // ground truth: blocked exact jaccard (oracle-verified elsewhere)
    val viaBlocked = Dedup.ngramJaccardFingerprintBlocked(docs, "doc_id", "text", 3, 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(viaWinnowing.nonEmpty)
    // both are candidate generators with < 1 recall (minShared /
    // bucket-cap pruning here, single-fingerprint collision there);
    // winnowing should still recover most of the blocked set
    val overlap = (viaBlocked & viaWinnowing).size.toDouble / viaBlocked.size
    assert(overlap >= 0.7, s"winnowing recall vs blocked too low: $overlap")
  }

  test("fused SimHash64 is bit-identical to the HOF formulation on real docs") {
    val real = graft.sources.Tables.documents(spark, sf).limit(200)
    val diff = real.select(
      Dedup.simhash64(TextFunctions.tokens($"text")).as("fused"),
      Dedup.simhash64Hof(TextFunctions.tokens($"text")).as("hof"))
      .filter(not($"fused" <=> $"hof")).count()
    assert(diff === 0)
  }

  test("shingles guard: short docs yield empty array, not fabricated shingles") {
    val sh = docs.filter($"doc_id" === 5L)
      .select(TextFunctions.shingles($"text", 3)).as[Seq[String]].head()
    assert(sh.isEmpty)
  }

  test("lsh bucket cap prunes degenerate buckets") {
    val many = (1L to 100L).map(i => (i, "same text for every single doc here")).toDF("doc_id", "text")
    val withSh = many.select($"doc_id", TextFunctions.shingles($"text", 3).as("sh"))
    val withSig = withSh.withColumn("sig", Dedup.minhashSignatureMd5($"sh", 16))
    val n = Dedup.lshCandidates(withSig, "doc_id", "sig", 4, 4, maxBucket = 10).count()
    assert(n === 0, "bucket over cap should be pruned")
  }

  test("lsh band plan: exact S-curve cells, monotone laws, registered-config recall") {
    val rows = graft.queries.DedupQueries.dedupLshBandPlan(spark, sf)
      .as[(Int, Int, Int, Long)].collect()
    assert(rows.length === 45) // 5 factorizations x 9 similarity points
    // every cell equals the independent BigInt recomputation of
    // round(1e6 * (1 - (1 - (k/10)^r)^b)) with r*b = 16
    rows.foreach { case (b, r, k, pMicro) =>
      val m = (BigInt(10).pow(r) - BigInt(k).pow(r)).pow(b)
      val expect = (BigInt(10).pow(16) - m + BigInt(5000000000L)) / BigInt(10).pow(10)
      assert(BigInt(pMicro) === expect, s"cell (b=$b, r=$r, s=$k/10)")
    }
    // monotone in similarity within each banding
    rows.groupBy(t => (t._1, t._2)).foreach { case (_, cells) =>
      val ps = cells.sortBy(_._3).map(_._4)
      assert(ps.zip(ps.tail).forall { case (a, c) => a <= c })
    }
    // band-count dominance at fixed s: more, shorter bands never lower
    // the candidate probability (the recall/candidate-volume trade)
    rows.groupBy(_._3).foreach { case (s, cells) =>
      val byBands = cells.sortBy(_._1).map(_._4)
      assert(byBands.zip(byBands.tail).forall { case (a, c) => a <= c },
        s"band dominance violated at s=$s/10")
    }
    // the registered minhash config (4 bands x 4 rows) at its 0.8
    // operating threshold: 87.85% single-shot candidate recall exactly
    // AT the threshold (the table's raison d'être — this number was
    // folklore before), rising to 98.6% one tenth above it. Pin both
    // so a banding change that dents recall at the operating point
    // fails loudly.
    val p44at8 = rows.find(t => t._1 == 4 && t._3 == 8).get._4
    val p44at9 = rows.find(t => t._1 == 4 && t._3 == 9).get._4
    assert(p44at8 === 878497L, s"4x4 S-curve moved at s=0.8: $p44at8")
    assert(p44at9 >= 980000L, s"4x4 recall above threshold too low: $p44at9")
  }

  test("snm window plan: closed-form candidate law + survivor saturation") {
    val n = graft.sources.Tables.part(spark, sf).count()
    val rows = graft.queries.DedupQueries.dedupSnmWindowPlan(spark, sf)
      .as[(Int, Long, Long)].collect().sortBy(_._1)
    assert(rows.map(_._1) === Seq(2, 5, 10, 20))
    // candidates are EXACTLY (n-w)*w + w(w-1)/2 — the linear-volume
    // law, cross-checked against the closed form (not just "≈ linear")
    rows.foreach { case (w, cands, _) =>
      assert(cands === (n - w) * w + w.toLong * (w - 1) / 2,
        s"candidate closed form broken at window=$w")
    }
    // survivors are monotone in the window (candidate sets nest)...
    val sv = rows.map(_._3)
    assert(sv.zip(sv.tail).forall { case (a, b) => a <= b })
    // ...but saturate: doubling 10 → 20 must add proportionally fewer
    // survivors than candidates (close names sort close — the reason a
    // small window suffices)
    val per = rows.map { case (w, c, s) => s.toDouble / c }
    assert(per.zip(per.tail).forall { case (a, b) => b <= a * 1.05 },
      s"survivor density should not grow with the window: ${per.toSeq}")
  }

  test("autoBanding: registered operating point derives the registered 4x4 config") {
    val plan = graft.queries.DedupQueries.dedupLshBandPlan(spark, sf)
    // the shipped config IS the planner-derived config at (s=0.8, floor
    // 0.85): within-floor configs are {4x4, 8x2, 16x1}; longest
    // rows-per-band wins
    assert(graft.operators.Dedup.autoBanding(plan, sTenths = 8,
      floorMicro = 850000L) === ((4, 4)))
    // floor nothing can meet -> max-recall fallback (16 bands of 1 row)
    assert(graft.operators.Dedup.autoBanding(plan, sTenths = 1,
      floorMicro = 999999L) === ((16, 1)))
    // the target MOVES the choice: at a 0.9-recall floor and target
    // J=0.5 only shorter rows qualify (4x4 recall at 0.5 is ~23%)
    val (b05, r05) = graft.operators.Dedup.autoBanding(plan, sTenths = 5,
      floorMicro = 900000L)
    assert(r05 < 4, s"at J=0.5 a 0.9 floor must force shorter bands, got ${(b05, r05)}")
    // the registered query emits exactly the autoBanding-selected row
    val emitted = graft.queries.DedupQueries.dedupAutobandChoice(spark, sf).collect()
    assert(emitted.length === 1)
    assert((emitted.head.getInt(0), emitted.head.getInt(1)) ===
      graft.operators.Dedup.autoBanding(plan,
        graft.queries.DedupQueries.AutoBandingTargetTenths,
        graft.queries.DedupQueries.AutoBandingRecallFloorMicro))
  }

  test("leakage-safe split: no near-dup group straddles train/eval; singletons covered") {
    import org.apache.spark.sql.functions._
    val split = graft.queries.DedupQueries.dedupLeakageSplit(spark, sf)
    val rows = split.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    // total: every document assigned exactly once
    val nDocs = graft.sources.Tables.documents(spark, sf).count()
    assert(rows.length.toLong === nDocs)
    assert(rows.map(_._1).distinct.length === rows.length)
    // THE leakage law: a group never spans splits — near-duplicate
    // documents land on the same side, always
    val spanning = rows.groupBy(_._2).filter(_._2.map(_._3).distinct.length > 1)
    assert(spanning.isEmpty, s"groups spanning splits: ${spanning.keys.take(5)}")
    // the split actually splits (both sides populated at fixture scale)
    val sides = rows.map(_._3).distinct.sorted
    assert(sides === Array("eval", "train"))
    // group ids are real: every clustered doc carries its component id,
    // singletons carry themselves
    val comp = graft.queries.DedupQueries.dedupClusters(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    rows.foreach { case (doc, group, _) =>
      assert(group === comp.getOrElse(doc, doc), s"doc $doc group $group")
    }
  }

  test("incremental near-dup equals the batch recompute; a bridge merges two prior clusters") {
    import spark.implicits._
    import graft.operators.Dedup
    // two prior clusters ({1,2} and {10,11}), one never-matching doc
    val existing = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta kappa"),
      (10L, "red orange yellow green blue indigo violet umber black"),
      (11L, "red orange yellow green blue indigo violet umber white"),
      (30L, "lonely words that match nothing else at all here")
    ).toDF("doc_id", "text")
    // doc 20 BRIDGES both clusters (its text embeds doc 1's and doc
    // 10's verbatim: jaccard 7/16 ≈ 0.44 to each at k=3); doc 21
    // matches nothing
    val arriving = Seq(
      (20L, "alpha beta gamma delta epsilon zeta eta theta iota " +
        "red orange yellow green blue indigo violet umber black"),
      (21L, "completely unrelated arriving document with no matches")
    ).toDF("doc_id", "text")
    def full(df: org.apache.spark.sql.DataFrame) = Dedup.connectedComponents(
      Dedup.minhashNearDups(df, "doc_id", "text",
        k = 3, numHashes = 16, bands = 16, threshold = 0.35, useMd5 = true))
    val prior = full(existing)
    val priorMap = prior.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(priorMap === Map(1L -> 1L, 2L -> 1L, 10L -> 10L, 11L -> 10L),
      s"fixture drifted: $priorMap")
    val got = Dedup.incrementalNearDupComponents(
        prior,
        Dedup.bucketedIndex(existing, "doc_id", "text", 3, 16, 16),
        Dedup.shingleFrame(existing, "doc_id", "text", 3),
        arriving, "doc_id", "text",
        k = 3, numHashes = 16, bands = 16, threshold = 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val batch = full(existing.unionByName(arriving))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // THE incremental-view law: probe + contracted merge == recompute
    assert(got === batch, "incremental must equal the batch recompute")
    // the merge event: both prior clusters relabel to the global min,
    // including members the increment never touched (11 rides its label)
    assert(Seq(2L, 10L, 11L, 20L).forall(got(_) === 1L), s"merge broke: $got")
    assert(!got.contains(21L) && !got.contains(30L),
      "non-matching docs must stay out of the cluster state")
  }

  test("incremental near-dup boundary laws: empty batch is identity, empty state is bootstrap") {
    import spark.implicits._
    import graft.operators.Dedup
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta kappa"),
      (10L, "red orange yellow green blue indigo violet umber black"),
      (11L, "red orange yellow green blue indigo violet umber white")
    ).toDF("doc_id", "text")
    val empty = docs.limit(0)
    def comps(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    def full(df: org.apache.spark.sql.DataFrame) = comps(Dedup.connectedComponents(
      Dedup.minhashNearDups(df, "doc_id", "text",
        k = 3, numHashes = 16, bands = 16, threshold = 0.35, useMd5 = true)))
    def incr(existing: org.apache.spark.sql.DataFrame,
        prior: Map[Long, Long], arriving: org.apache.spark.sql.DataFrame) =
      comps(Dedup.incrementalNearDupComponents(
        prior.toSeq.toDF("node", "component"),
        Dedup.bucketedIndex(existing, "doc_id", "text", 3, 16, 16),
        Dedup.shingleFrame(existing, "doc_id", "text", 3),
        arriving, "doc_id", "text",
        k = 3, numHashes = 16, bands = 16, threshold = 0.35))
    val state = full(docs)
    // identity law: an empty batch changes nothing
    assert(incr(docs, state, empty) === state)
    // bootstrap law: from empty state, the increment IS the batch
    // pipeline — the incremental path subsumes the batch path at the
    // empty-state boundary instead of being a separate code universe
    assert(incr(empty, Map.empty, docs) === state)
  }

  test("retraction: untouched clusters survive verbatim, a removed bridge splits, last-edge members drop") {
    import spark.implicits._
    import graft.operators.Dedup
    // one path-shaped cluster 1–2–3–4 held together by bridge doc 2
    // (its text embeds doc 1's and doc 3's), one unrelated cluster
    // {10, 11}
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota " +
        "red orange yellow green blue indigo violet umber black"),
      (3L, "red orange yellow green blue indigo violet umber black"),
      (4L, "red orange yellow green blue indigo violet umber white"),
      (10L, "one two three four five six seven eight nine"),
      (11L, "one two three four five six seven eight ten")
    ).toDF("doc_id", "text")
    def full(df: org.apache.spark.sql.DataFrame) = Dedup.connectedComponents(
      Dedup.minhashNearDups(df, "doc_id", "text",
        k = 3, numHashes = 16, bands = 16, threshold = 0.35, useMd5 = true))
    val prior = full(docs)
    val priorMap = prior.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(priorMap.filterKeys(Set(1L, 2L, 3L, 4L)).values.toSet === Set(1L) &&
      priorMap(10L) === 10L && priorMap(11L) === 10L, s"fixture drifted: $priorMap")
    val priorEdges = Dedup.minhashNearDups(docs, "doc_id", "text",
      k = 3, numHashes = 16, bands = 16, threshold = 0.35, useMd5 = true)
    val got = Dedup.retractFromClusters(
        prior, priorEdges, Seq(2L).toDF("doc_id"), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // doc 1 lost its only edge and drops; {3,4} survives as a NEW
    // cluster under its own min; {10,11} passes through untouched
    assert(got === Map(3L -> 3L, 4L -> 3L, 10L -> 10L, 11L -> 10L), s"got $got")
    // and the law: retract == from-scratch recompute on the remainder
    val scratch = full(docs.filter(col("doc_id") =!= 2L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === scratch)
  }

  test("cluster delta log: accounting laws hold and the fixture logs all event shapes") {
    val rows = graft.queries.DedupQueries.dedupClusterDelta(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getInt(5)))
    assert(rows.nonEmpty, "fixture drifted: the increment touched no cluster")
    rows.foreach { case (comp, n, nPrior, nNew, nGroups, relabeled) =>
      assert(n === nPrior + nNew, s"membership accounting broke at $comp")
      assert(nNew > 0 || relabeled === 1, "untouched component leaked into the log")
      if (nGroups > 1)
        assert(relabeled === 1,
          s"$comp absorbed $nGroups prior groups without relabeling the non-min one")
      assert(nPrior === 0 || nGroups >= 1)
    }
    // the log agrees with the two states it summarizes
    val updated = graft.queries.DedupQueries.dedupIncrementalNeardup(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byComp = updated.groupBy(_._2)
    rows.foreach { case (comp, n, _, _, _, _) =>
      assert(byComp(comp).length.toLong === n, s"row $comp counts wrong members")
    }
  }

  test("incremental near-dup on the fixture: arriving source exercises the probe") {
    // the registered query's oracle is the full recompute (hash-gated
    // driver-side); here pin Spark-side equality AND that the fixture
    // actually sends arriving docs through the probe path
    val inc = graft.queries.DedupQueries.dedupIncrementalNeardup(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = graft.queries.DedupQueries.dedupClusters(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inc === batch, "incremental must equal dedup_clusters on the union")
    val arriving = graft.sources.Tables.documents(spark, sf)
      .filter(org.apache.spark.sql.functions.col("source") === "src0")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(inc.exists(n => arriving.contains(n._1)),
      "fixture drifted: no arriving doc reaches the cluster state — the probe path is untested")
  }

  test("split stability: append-only disjoint growth preserves existing assignments") {
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables.documents(spark, sf)
    val before = graft.queries.DedupQueries.dedupLeakageSplit(spark, sf)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getString(2)))).toMap
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    // appended docs: ids above the corpus max, texts whose every token
    // embeds the new id — shingle-disjoint from the corpus AND from
    // each other, so they can only enter as singleton groups
    val extras = docs.orderBy(col("doc_id")).limit(40)
      .withColumn("doc_id", col("doc_id") + lit(maxId + 1L))
      .withColumn("text", concat_ws(" ",
        (0 until 12).map(j =>
          concat(lit(s"zq${j}w"), col("doc_id").cast("string"))): _*))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val extraIds = extras.select("doc_id").collect().map(_.getLong(0))
    val aug = suiteTempDir("graft_split_aug")
    docs.unionByName(extras).coalesce(1)
      .write.mode("overwrite").parquet(s"$aug/documents.parquet")
    val after = graft.queries.DedupQueries.dedupLeakageSplit(spark, aug)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getString(2)))).toMap
    // THE operational law: growing the corpus with non-near-dup data
    // never moves an existing document's group or side — a published
    // eval set stays eval across ingestion increments
    before.foreach { case (doc, ga) =>
      assert(after(doc) === ga, s"doc $doc moved: $ga -> ${after(doc)}")
    }
    // the appended docs enter as singletons (group = own id), assigned
    extraIds.foreach { id =>
      assert(after(id)._1 === id, s"appended doc $id not a singleton group")
    }
  }

  test("decontam audit: pairs straddle the split, oriented, below near-dup strength") {
    val split = graft.queries.DedupQueries.dedupLeakageSplit(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(2))).toMap
    val rows = graft.queries.DedupQueries.decontamEvalOverlap(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // the fixture must exercise the audit — an always-empty audit
    // proves nothing (sf0.001 carries 25 cross-split partial overlaps)
    assert(rows.nonEmpty)
    rows.foreach { case (train, eval, shared) =>
      // orientation law: column names are the split sides
      assert(split(train) === "train", s"doc $train on train_doc side")
      assert(split(eval) === "eval", s"doc $eval on eval_doc side")
      assert(shared >= 2L)
    }
    // the audit flags only sub-near-dup overlap: no flagged pair may be
    // a near-dup pair (those are pinned to one side by the split — if
    // one appeared here the split itself would be broken)
    val nd = graft.queries.DedupQueries.dedupMinhashPairs(spark, sf)
      .collect().map(r => Set(r.getLong(0), r.getLong(1))).toSet
    rows.foreach { case (a, b, _) =>
      assert(!nd.contains(Set(a, b)), s"near-dup pair ($a,$b) crossed the split")
    }
  }

  test("selector laws hold across swept floors (totality + optimality)") {
    val bandPlan = graft.queries.DedupQueries.dedupLshBandPlan(spark, sf)
    val bandRows = bandPlan.collect().map(r =>
      (r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    for (s <- Seq(2, 5, 8); floor <- Seq(100000L, 500000L, 850000L, 990000L)) {
      val (b, rp) = graft.operators.Dedup.autoBanding(bandPlan, s, floor)
      val at = bandRows.filter(_._3 == s).map { case (bb, rr, _, p) => ((bb, rr), p) }.toMap
      assert(at.contains((b, rp)), "choice must come from the plan")
      val meets = at.filter(_._2 >= floor)
      if (meets.nonEmpty) {
        assert(at((b, rp)) >= floor, s"s=$s floor=$floor: choice below floor")
        // optimality: longest rows-per-band among floor-meeting configs
        assert(rp === meets.keys.map(_._2).max,
          s"s=$s floor=$floor: ${(b, rp)} not the finest-bucket qualifier")
      } else {
        // totality: max-recall fallback
        assert(at((b, rp)) === at.values.max)
      }
    }
  }

  test("incremental near-dup: re-ingesting an existing id verifies against the ARRIVING text") {
    import spark.implicits._
    import graft.operators.Dedup
    // doc 30 exists in the corpus as an unrelated singleton (no prior
    // cluster), then re-arrives with text near-identical to doc 1.
    // ADVICE r12: the naive shingle union kept BOTH rows for id 30, so
    // the verify join fanned out and could score the stale text.
    val existing = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta kappa"),
      (30L, "totally unrelated content about something else entirely")
    ).toDF("doc_id", "text")
    val arriving = Seq(
      (30L, "alpha beta gamma delta epsilon zeta eta theta lambda")
    ).toDF("doc_id", "text")
    def full(df: org.apache.spark.sql.DataFrame) = Dedup.connectedComponents(
      Dedup.minhashNearDups(df, "doc_id", "text",
        k = 3, numHashes = 16, bands = 16, threshold = 0.35, useMd5 = true))
    val prior = full(existing)
    val got = Dedup.incrementalNearDupComponents(
        prior,
        Dedup.bucketedIndex(existing, "doc_id", "text", 3, 16, 16),
        Dedup.shingleFrame(existing, "doc_id", "text", 3),
        arriving, "doc_id", "text",
        k = 3, numHashes = 16, bands = 16, threshold = 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // oracle: batch recompute over the corpus with 30's text REPLACED
    val replaced = existing.filter($"doc_id" =!= 30L).unionByName(arriving)
    val batch = full(replaced)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === batch,
      "re-ingest must treat the arriving text as authoritative")
    assert(got.get(30L) === Some(1L), s"30 must join cluster 1: $got")
  }

  test("incremental near-dup: a content-scrubbing re-ingest retires the STALE shingles") {
    import spark.implicits._
    import graft.operators.Dedup
    // r13 review finding: the anti-join was keyed on arSh ids, and
    // shingleFrame drops k-gram-less docs — so a re-ingest that scrubs
    // a doc's content left its OLD shingles live, and a new doc could
    // still form an edge against text the corpus no longer holds.
    val existing = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta kappa"),
      (30L, "red orange yellow green blue indigo violet umber black")
    ).toDF("doc_id", "text")
    val arriving = Seq(
      (30L, "x"), // scrubbed: no word-3-grams, shingleFrame drops it
      (31L, "red orange yellow green blue indigo violet umber black")
    ).toDF("doc_id", "text")
    def full(df: org.apache.spark.sql.DataFrame) = Dedup.connectedComponents(
      Dedup.minhashNearDups(df, "doc_id", "text",
        k = 3, numHashes = 16, bands = 16, threshold = 0.35, useMd5 = true))
    val got = Dedup.incrementalNearDupComponents(
        full(existing),
        Dedup.bucketedIndex(existing, "doc_id", "text", 3, 16, 16),
        Dedup.shingleFrame(existing, "doc_id", "text", 3),
        arriving, "doc_id", "text",
        k = 3, numHashes = 16, bands = 16, threshold = 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val replaced = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta kappa"),
      (30L, "x"),
      (31L, "red orange yellow green blue indigo violet umber black")
    ).toDF("doc_id", "text")
    val batch = full(replaced)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === batch, "scrubbed re-ingest must equal the batch recompute")
    assert(!got.contains(31L) && !got.contains(30L),
      s"31 must NOT cluster against 30's retired text: $got")
  }

  test("incremental near-dup: re-ingest does not double-count a bucket against maxBucket") {
    import spark.implicits._
    import graft.operators.Dedup
    // r13 review finding: a re-ingested id lands in BOTH new_ids and
    // old_ids of its bucket; the naive size sum pushed a true-size-2
    // bucket ([new 1, new 31] with 1's stale entry still in old_ids)
    // to 3 > maxBucket=2, silently dropping the (1, 31) candidate the
    // batch recompute keeps — 31 then never clusters.
    val existing = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota"),
      (30L, "totally unrelated content about something else entirely")
    ).toDF("doc_id", "text")
    val arriving = Seq( // re-ingest 1 with IDENTICAL text (every band of the
      // new signature collides with the stale index entry) + a new near-dup
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota"),
      (31L, "alpha beta gamma delta epsilon zeta eta theta lambda")
    ).toDF("doc_id", "text")
    def full(df: org.apache.spark.sql.DataFrame) = Dedup.connectedComponents(
      Dedup.minhashNearDups(df, "doc_id", "text",
        k = 3, numHashes = 16, bands = 16, threshold = 0.35, useMd5 = true))
    val got = Dedup.incrementalNearDupComponents(
        full(existing), // no prior near-dups: prior state empty
        Dedup.bucketedIndex(existing, "doc_id", "text", 3, 16, 16),
        Dedup.shingleFrame(existing, "doc_id", "text", 3),
        arriving, "doc_id", "text",
        k = 3, numHashes = 16, bands = 16, threshold = 0.35, maxBucket = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val replaced = existing.filter($"doc_id" =!= 1L).unionByName(arriving)
    val batch = full(replaced)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === batch,
      s"bucket-cap double count: incremental $got != batch $batch")
    assert(got === Map(1L -> 1L, 31L -> 1L), s"1 and 31 must cluster: $got")
  }

  test("incremental near-dup: a banding-CHANGING re-ingest retires stale index entries (cap counts live ids)") {
    import spark.implicits._
    import graft.operators.Dedup
    // r13 residue (VERDICT task 2): doc 5's OLD text banded it into the
    // alpha-buckets; its re-ingested text bands elsewhere, but the stale
    // {5} entries stayed in the persisted index, inflating the probed
    // buckets' population past maxBucket — so arriving near-dup 6 lost
    // the candidates the batch recompute keeps and never clustered.
    // Identical texts pin bucket membership deterministically (same
    // signature => every band collides).
    val tA = "alpha beta gamma delta epsilon zeta eta theta iota"
    val existing = Seq((1L, tA), (2L, tA), (5L, tA)).toDF("doc_id", "text")
    val arriving = Seq(
      (5L, "totally unrelated replacement content about something else"),
      (6L, tA)
    ).toDF("doc_id", "text")
    def full(df: org.apache.spark.sql.DataFrame) = Dedup.connectedComponents(
      Dedup.minhashNearDups(df, "doc_id", "text",
        k = 3, numHashes = 16, bands = 16, threshold = 0.35, useMd5 = true))
    // label state AFTER 5's content replacement was routed through
    // retraction (the documented flow for edge-bearing re-ingests); the
    // INDEX and SHINGLE store still hold 5's stale rows — exactly the
    // persisted-state shape retraction leaves behind
    val priorAfterRetract = full(existing.filter($"doc_id" =!= 5L))
    val got = Dedup.incrementalNearDupComponents(
        priorAfterRetract,
        Dedup.bucketedIndex(existing, "doc_id", "text", 3, 16, 16),
        Dedup.shingleFrame(existing, "doc_id", "text", 3),
        arriving, "doc_id", "text",
        k = 3, numHashes = 16, bands = 16, threshold = 0.35, maxBucket = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val replaced = existing.filter($"doc_id" =!= 5L).unionByName(arriving)
    val batch = full(replaced)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === batch,
      s"stale band entries must not count against maxBucket: $got != $batch")
    assert(got === Map(1L -> 1L, 2L -> 1L, 6L -> 1L),
      s"6 must join the cluster, 5 must leave it: $got")
  }

  test("index maintenance: updatedBandedState equals a rebuild from the replaced corpus") {
    import spark.implicits._
    import graft.operators.Dedup
    // every re-ingest shape at once: 5 changes banding, 30 is
    // content-scrubbed (must vanish from the whole index), 6 duplicates
    // an existing doc's text (joins its buckets), 7 is brand new
    // (creates buckets)
    val tA = "alpha beta gamma delta epsilon zeta eta theta iota"
    val existing = Seq(
      (1L, tA), (2L, tA), (5L, tA),
      (30L, "red orange yellow green blue indigo violet umber black")
    ).toDF("doc_id", "text")
    val arriving = Seq(
      (5L, "totally unrelated replacement content about something else"),
      (30L, "x"),
      (6L, tA),
      (7L, "completely fresh arriving document with brand new words")
    ).toDF("doc_id", "text")
    val (banded2, buckets2) = Dedup.updatedBandedState(
      Dedup.bandedIndex(existing, "doc_id", "text", 3, 16, 16),
      Dedup.bucketedIndex(existing, "doc_id", "text", 3, 16, 16),
      arriving, "doc_id", "text", 3, 16, 16)
    val replaced = existing.filter(!$"doc_id".isin(5L, 30L)).unionByName(arriving)
    def bandedSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    def bucketMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => ((r.getInt(0), r.getString(1)),
        r.getSeq[Long](2).sorted.toList)).toMap
    assert(bandedSet(banded2) ===
      bandedSet(Dedup.bandedIndex(replaced, "doc_id", "text", 3, 16, 16)),
      "updated banded index must equal the rebuild")
    assert(bucketMap(buckets2) ===
      bucketMap(Dedup.bucketedIndex(replaced, "doc_id", "text", 3, 16, 16)),
      "updated bucket index must equal the rebuild (stale rows retired everywhere)")
    // the scrubbed id is gone from the ENTIRE index, not just probed buckets
    assert(banded2.filter($"id" === 30L).count() === 0L)
    assert(buckets2.filter(array_contains($"old_ids", 30L)).count() === 0L)
  }

  test("pin registry bounds the session to two live caches per call site (r13)") {
    import spark.implicits._
    import graft.operators.Dedup
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta kappa")
    ).toDF("doc_id", "text")
    def livePins(): Int = spark.sparkContext.getPersistentRDDs.size
    // settle whatever other suites left behind
    val base = livePins()
    for (_ <- 1 to 4) {
      Dedup.minhashNearDups(docs, "doc_id", "text",
        k = 3, numHashes = 16, bands = 16, threshold = 0.35).count()
      Dedup.substringSpans(docs, "doc_id", "text", k = 3).count()
    }
    // pre-r13: +1 corpus cache per invocation (8 new pins here); the
    // two-generation registry caps each call site at 2
    assert(livePins() - base <= 4,
      s"pin leak: $base -> ${livePins()} after 4 re-invocations")
  }

  test("autoWindow: smallest window at 95% survivor coverage; query agrees") {
    // the policy, recomputed from the measured table: the smallest
    // window whose survivors reach 95% of the widest window's
    val real = graft.queries.DedupQueries.dedupSnmWindowPlan(spark, sf).collect()
      .map(r => (r.getAs[Int]("win"), r.getAs[Long]("survivors")))
    val maxSurv = real.map(_._2).max
    val chosen = real.filter(_._2 * 1000000L >=
        graft.queries.DedupQueries.AutoWindowCoverageMicro * maxSurv)
      .map(_._1).min
    val emitted = graft.queries.DedupQueries.dedupSnmAutowindow(spark, sf).collect()
    assert(emitted.length === 1)
    assert(emitted.head.getInt(0) === chosen,
      "dedup_snm_autowindow must emit the policy-selected window")
  }
}
