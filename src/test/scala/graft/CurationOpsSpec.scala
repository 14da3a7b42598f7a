package graft

import org.apache.spark.sql.functions._

/** Semantic laws for the round-5 curation additions: the Gopher rule
  * filter, the hashed-linear classifier, and the Bloom membership
  * screen. The DuckDB hash gate proves engine-equality; these pin the
  * operator-level invariants the hash can't express (Bloom's
  * no-false-negative law, rule/flag consistency, model determinism).
  */
class CurationOpsSpec extends SparkSpec {

  test("gopher rules: keep ⇔ no drop_reason, and every rule fires somewhere") {
    val rows = graft.queries.TextQueries.gopherQuality(spark, sf).collect()
    rows.foreach { r =>
      val keep = r.getAs[Int]("keep")
      val reason = Option(r.getAs[String]("drop_reason"))
      assert((keep == 1) == reason.isEmpty,
        s"doc ${r.getAs[Long]("doc_id")}: keep=$keep but drop_reason=$reason")
    }
    val reasons = rows.flatMap(r => Option(r.getAs[String]("drop_reason"))).toSet
    assert(reasons === Set("word_count", "mean_word_length", "top_word_mass", "stop_words"),
      s"rules without any firing would be dead thresholds: $reasons")
    val kept = rows.count(_.getAs[Int]("keep") == 1)
    assert(kept > 0 && kept < rows.length, "conjunction must discriminate")
  }

  test("gopher rules: flags agree with signals recomputed from the output row") {
    val rows = graft.queries.TextQueries.gopherQuality(spark, sf).collect()
    rows.foreach { r =>
      val n = r.getAs[Long]("n_words")
      val meanW = r.getAs[Double]("mean_wlen")
      val topF = r.getAs[Double]("top_word_frac")
      val nStop = r.getAs[Long]("n_stop")
      val expectKeep = n >= 20 && n <= 90 &&
        meanW >= 3.5 - 1e-9 && meanW <= 4.5 + 1e-9 &&
        topF <= 0.09 + 1e-9 && nStop >= 3
      assert(r.getAs[Int]("keep") == (if (expectKeep) 1 else 0),
        s"doc ${r.getAs[Long]("doc_id")}: rounded signals disagree with keep")
    }
  }

  test("classifier: per-doc token mass is conserved and both labels occur") {
    val out = graft.queries.TextQueries.classifierScore(spark, sf)
    val toks = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"),
        graft.functions.TextFunctions.tokenCount(col("text")).cast("long").as("nt"))
    val mismatched = out.join(toks, "doc_id")
      .filter(col("n_tokens") =!= col("nt")).count()
    assert(mismatched === 0L, "bucketed occurrence counts must sum to tokenCount")
    val labels = out.select("label").distinct().collect().map(_.getInt(0)).toSet
    assert(labels === Set(0, 1), "a dead model (one label) can't be a filter fixture")
  }

  test("classifier: score is deterministic under repartitioning") {
    val a = graft.queries.TextQueries.classifierScore(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val b = graft.queries.TextQueries.classifierScore(spark, sf)
      .repartition(7).collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(a === b)
  }

  test("augment dropout: ~10% drop rate, kept text is an ordered subsequence") {
    val rows = graft.queries.TextQueries.augmentDropout(spark, sf).collect()
    val total = rows.map(_.getAs[Int]("n_tokens").toLong).sum
    val dropped = rows.map(_.getAs[Int]("n_dropped").toLong).sum
    val rate = dropped.toDouble / total
    assert(rate > 0.05 && rate < 0.15, s"corpus drop rate $rate far from p=0.1")
    // kept tokens must be an ordered subsequence of the original
    val orig = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.take(50).foreach { r =>
      val docId = r.getAs[Long]("doc_id")
      val kept = r.getAs[String]("aug_text").split("\\s+").filter(_.nonEmpty)
      val src = orig(docId).trim.split("\\s+")
      var j = 0
      kept.foreach { t =>
        while (j < src.length && src(j) != t) j += 1
        assert(j < src.length, s"doc $docId: '$t' breaks subsequence order")
        j += 1
      }
      assert(kept.length === r.getAs[Int]("n_tokens") - r.getAs[Int]("n_dropped"))
    }
  }

  test("curriculum order: phases never regress (all head before middle before tail)") {
    val rows = graft.queries.TextQueries.curriculumOrder(spark, sf).collect()
    assert(rows.map(_.getAs[Int]("pos")).toSeq === (1 to rows.length))
    val phases = rows.map(_.getAs[String]("bucket") match {
      case "head" => 0; case "middle" => 1; case "tail" => 2
    })
    phases.sliding(2).foreach {
      case Array(a, b) => assert(a <= b, "curriculum phase regressed")
      case _ =>
    }
    // the emitted head must actually begin with the easy phase
    assert(phases.head === 0)
  }

  test("bloom screen: no false negatives, real false-positive mass, m-bounded bits") {
    val rows = graft.queries.DedupQueries.dedupBloomProbe(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_maybe_hist") >= r.getAs[Long]("n_exact_hist"),
        s"doc ${r.getAs[Long]("doc_id")}: Bloom false negative — filter is broken")
      assert(r.getAs[Long]("n_maybe_hist") <= r.getAs[Long]("n_shingles"))
    }
    val fp = rows.map(r => r.getAs[Long]("n_maybe_hist") - r.getAs[Long]("n_exact_hist")).sum
    val negatives = rows.map(r => r.getAs[Long]("n_shingles") - r.getAs[Long]("n_exact_hist")).sum
    // the fixture m runs the filter at ~0.6 load precisely so the fp
    // path is exercised; a zero here means the probe stopped probing
    assert(fp > 0, "expected some false positives at the fixture load factor")
    assert(fp.toDouble / negatives < 0.5, "fp rate should stay well under load^k bound noise")
  }

  test("written signal tables: curation_decisions in a second session reuses " +
      "the first session's files byte-identically") {
    import graft.queries.SignalMemo
    val root = suiteTempDir("graft_signals")
    def signalFiles(): Map[String, (Long, Long)] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(root)).iterator().asScala
        .filter(p => p.toString.endsWith(".parquet") && java.nio.file.Files.isRegularFile(p))
        .map(p => p.toString ->
          (java.nio.file.Files.getLastModifiedTime(p).toMillis, java.nio.file.Files.size(p)))
        .toMap
    }
    // fresh sessions: the suite's shared session already holds warm
    // in-memory memos for sf, which would mask the disk path
    val sA = spark.newSession()
    sA.conf.set(SignalMemo.signalDirKey, root)
    val first = graft.queries.TextQueries.curationDecisions(sA, sf).collect().toSeq
    val files = signalFiles()
    assert(files.nonEmpty, "session A must have written signal tables")
    val sB = spark.newSession()
    sB.conf.set(SignalMemo.signalDirKey, root)
    val second = graft.queries.TextQueries.curationDecisions(sB, sf).collect().toSeq
    assert(second === first, "second session diverged from the written signals")
    assert(signalFiles() === files,
      "second session rewrote signal tables instead of reading them back")
  }

  test("signal builds sweep stale-fingerprint generations of the same corpus " +
      "(r15 review: regeneration must not grow the signal root unboundedly)") {
    import graft.queries.SignalMemo
    val root = suiteTempDir("graft_sweep")
    // a dead generation of THIS corpus (same slug, different fingerprint)
    // and a sibling corpus's generation (different slug) — only the
    // former may be swept
    val stale = new java.io.File(root, SignalMemo.slug(sf) + "_deadbeefdead")
    assert(stale.mkdirs())
    assert(new java.io.File(stale, "marker").createNewFile())
    val other = new java.io.File(root, "other_corpus_aaaa_bbbbbbbbbbbb")
    assert(other.mkdirs())
    val s = spark.newSession()
    s.conf.set(SignalMemo.signalDirKey, root)
    graft.queries.TextQueries.perplexityBuckets(s, sf).count()
    assert(!stale.exists(),
      "the stale-fingerprint generation of this corpus must be deleted")
    assert(other.exists(), "other corpora's signal dirs must be untouched")
    assert(new java.io.File(root,
      SignalMemo.slug(sf) + "_" + SignalMemo.sourceFingerprint(sf)).exists(),
      "the current generation must have been written")
  }

  test("bloom screen: the bit-position space is 16-bit (broadcastable at any corpus size)") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, sf)
    val shingles = docs
      .select(explode(graft.functions.TextFunctions.shingles(col("text"), 3)).as("s"))
      .distinct().as[String].take(2000)
    shingles.foreach { s =>
      (0 until 4).foreach { i =>
        val h = java.security.MessageDigest.getInstance("MD5")
          .digest((s + "#" + i).getBytes("UTF-8"))
        val u16 = ((h(0) & 0xff) << 8) | (h(1) & 0xff)
        assert(u16 >= 0 && u16 < 65536)
      }
    }
  }
}
