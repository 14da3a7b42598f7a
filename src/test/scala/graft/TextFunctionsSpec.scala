package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

class TextFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column, text: String): org.apache.spark.sql.Row =
    Seq(text).toDF("t").select(c).head()

  test("tokenCount counts whitespace-separated tokens") {
    assert(one(tokenCount($"t"), "a b  c\t d").getInt(0) === 4)
  }

  test("shingles are ordered k-grams, distinct") {
    val sh = one(shingles($"t", 2), "a b a b c").getSeq[String](0)
    assert(sh === Seq("a b", "b a", "b c"))
  }

  test("langId picks the dominant marker profile with fixed precedence") {
    assert(one(langId($"t"), "der und das die x").getString(0) === "de")
    assert(one(langId($"t"), "xyz qqq").getString(0) === "und")
    // tie en/de → en wins (declaration precedence)
    assert(one(langId($"t"), "the der").getString(0) === "en")
  }

  test("qualityScore is bounded and monotone-ish in token count") {
    val lo = one(qualityScore($"t"), "x").getDouble(0)
    val hi = one(qualityScore($"t"), Seq.fill(60)("the word").mkString(" ")).getDouble(0)
    assert(lo >= 0.0 && lo <= 1.0 && hi >= 0.0 && hi <= 1.0)
    assert(hi > lo)
  }

  test("fingerprint is whitespace-normalization invariant") {
    val a = one(fingerprint($"t"), "a b c").getString(0)
    val b = one(fingerprint($"t"), "  a\tb   c ").getString(0)
    assert(a === b)
  }

  test("fused WordShingles is bit-identical to the HOF formulation") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val diff = docs.select(shingles($"text", 3).as("fused"), shinglesHof($"text", 3).as("hof"))
      .filter(not($"fused" <=> $"hof")).count()
    assert(diff === 0)
    val edge = Seq("  a\tb c  ", "x", "", " \t ", "a  b\nc d e", "a b a b c a b")
      .toDF("text")
    val ediff = edge.select(shingles($"text", 2).as("fused"), shinglesHof($"text", 2).as("hof"))
      .filter(not($"fused" <=> $"hof")).count()
    assert(ediff === 0)
  }

  test("fused WinnowingFingerprints is bit-identical to the HOF formulation") {
    val docs = graft.sources.Tables.documents(spark, sf).limit(150)
    val diff = docs.select(
      winnowingFingerprints($"text", 3, 4).as("fused"),
      winnowingFingerprintsHof($"text", 3, 4).as("hof"))
      .filter(not($"fused" <=> $"hof")).count()
    assert(diff === 0)
    val edge = Seq("a b c", "a b c d e", "x", "", "a a a a a a a a").toDF("text")
    val ediff = edge.select(
      winnowingFingerprints($"text", 3, 4).as("fused"),
      winnowingFingerprintsHof($"text", 3, 4).as("hof"))
      .filter(not($"fused" <=> $"hof")).count()
    assert(ediff === 0)
  }

  test("fused MinShingleMd5 is bit-identical to the HOF formulation on real docs") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val diff = docs.select(
      minShingleFingerprint($"text", 3).as("fused"),
      minShingleFingerprintHof($"text", 3).as("hof"))
      .filter(not($"fused" <=> $"hof")).count()
    assert(diff === 0)
    // whitespace edge cases: tabs/newlines inside, spaces at edges, short docs
    val edge = Seq("  a\tb c  ", "x", "", " \t ", "a  b\nc d e").toDF("text")
    val ediff = edge.select(
      minShingleFingerprint($"text", 3).as("fused"),
      minShingleFingerprintHof($"text", 3).as("hof"))
      .filter(not($"fused" <=> $"hof")).count()
    assert(ediff === 0)
  }

  test("fused MinHashSignatureMd5 is bit-identical to the HOF formulation") {
    val docs = graft.sources.Tables.documents(spark, sf).limit(100)
    val withSh = docs.select(shingles($"text", 3).as("sh"))
    val diff = withSh.select(
      graft.operators.Dedup.minhashSignatureMd5($"sh", 16).as("fused"),
      graft.operators.Dedup.minhashSignatureMd5Hof($"sh", 16).as("hof"))
      .filter(not($"fused" <=> $"hof")).count()
    assert(diff === 0)
  }

  private val rnd = new scala.util.Random(42)
  private def randWords(n: Int): List[String] =
    List.fill(n)(rnd.alphanumeric.filter(_.isLetter).take(1 + rnd.nextInt(8)).mkString)

  test("property: token count equals split size for random word lists") {
    for (_ <- 1 to 20) {
      val ws = randWords(1 + rnd.nextInt(30))
      val got = one(tokenCount($"t"), ws.mkString(" ")).getInt(0)
      assert(got === ws.size)
    }
  }

  test("property: shingle count bounded by n - k + 1, always distinct") {
    for (_ <- 1 to 20) {
      val ws = randWords(rnd.nextInt(10))
      val sh = one(shingles($"t", 3), ws.mkString(" ")).getSeq[String](0)
      assert(sh.size <= math.max(0, ws.size - 2))
      assert(sh.distinct.size === sh.size)
    }
  }

  test("BPE merge learning: counts, greedy application, deterministic ties") {
    // "aaab": a a a b -> pairs (a,a)x2 (a,b); "aab": (a,a) (a,b)
    // step 1: (a,a)=3 wins; greedy left fold gives [aa,a,b] / [aa,b]
    // step 2: pairs (aa,a)=1 (a,b)=1 (aa,b)=1 -> tie, 'a b' < 'aa a' asc
    // step 3: [aa,ab] / [aa,b] -> (aa,ab)=1 (aa,b)=1 -> 'aa ab' wins
    val docs = Seq((1L, "aaab"), (2L, "aab")).toDF("doc_id", "text")
    val m = graft.operators.Bpe.mergesDf(spark,
      graft.operators.Bpe.learn(docs, "text", steps = 3))
      .orderBy("step").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(m.toSeq === Seq(
      (1, "a a", "aa", 3L),
      (2, "a b", "ab", 1L),
      (3, "aa ab", "aaab", 1L)))
  }

  test("BPE multi-merge batch: disjoint pairs merge in ONE scan; overlapping defer") {
    // pairs: (a,b)=3, (c,d)=2, (b,x)=1 — (a,b) and (c,d) are symbol-
    // disjoint so one scan accepts both; (b,x) shares b with the ranked-
    // higher (a,b) and must wait for the next scan's re-counted pairs
    val docs = Seq((1L, "ab ab abx cd cd")).toDF("doc_id", "text")
    val learned = graft.operators.Bpe.learn(docs, "text", steps = 3, batchSize = 8)
    val m = learned.merges
    assert(m === Seq(
      (1, "a b", "ab", 3L),
      (2, "c d", "cd", 2L),
      (3, "ab x", "abx", 1L))) // re-counted AFTER batch 1 applied
    // one fold pass applied the whole first batch: segments reflect both
    val segs = graft.operators.Bpe.segmentsDf(learned)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(segs("ab") === "ab" && segs("cd") === "cd" && segs("abx") === "abx")
    // batchSize=1 degenerates to classical sequential BPE, same fixture
    val seq1 = graft.operators.Bpe.learn(docs, "text", steps = 2, batchSize = 1).merges
    assert(seq1.map(_._2) === Seq("a b", "c d"))
  }

  test("BPE merge learning: single-char words contribute no pairs but stay counted") {
    val docs = Seq((1L, "x y x y xy")).toDF("doc_id", "text")
    val m = graft.operators.Bpe.mergesDf(spark,
      graft.operators.Bpe.learn(docs, "text", steps = 1))
      .collect().map(r => (r.getString(1), r.getLong(3)))
    // only the two-char word 'xy' has a pair
    assert(m.toSeq === Seq(("x y", 1L)))
  }

  test("BPE handles apostrophe symbols and blank documents (r13 review)") {
    // apostrophes: Spark concatenates adjacent string literals, so the
    // pre-r13 quote-DOUBLING escape made a rule with a='\'' silently
    // never match — the same top pair re-won every scan and the merge
    // list filled with duplicate no-op rules
    val docs = Seq((1L, "a'b a'b a'b"), (2L, ""), (3L, "   ")).toDF("doc_id", "text")
    val learned = graft.operators.Bpe.learn(docs, "text", steps = 3, batchSize = 1)
    val pairs = learned.merges.map(m => (m._2, m._3))
    assert(pairs.distinct.size === pairs.size,
      s"duplicate no-op rules learned (broken escaping): $pairs")
    // the apostrophe-bearing word fully merges across the 3 steps
    val segs = graft.operators.Bpe.segmentsDf(learned)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(segs("a'b") === "a'b", s"apostrophe merge failed: $segs")
    // blank documents must not mint a phantom '<empty> <empty>' pair
    assert(!learned.merges.exists(m => m._2.trim.isEmpty || m._3.trim.isEmpty),
      s"phantom empty-symbol rule: ${learned.merges}")
  }
}
