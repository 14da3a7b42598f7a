package graft

import org.apache.spark.sql.functions._

import graft.queries.RetrievalQueries

/** BM25 and RRF laws the hash gate can't express: tf saturation,
  * rare-term dominance, fusion arithmetic, and arm bookkeeping. */
class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  test("BM25: higher tf wins within a term; rare terms dominate common ones") {
    val docs = Seq(
      (0L, "apple rare"), // the query
      (1L, "apple banana cherry"),
      (2L, "apple apple banana"),
      (3L, "banana cherry banana"),
      (4L, "rare banana cherry")
    ).toDF("doc_id", "text")
    val out = RetrievalQueries.bm25TopKOf(docs, col("doc_id") === 0, k = 10)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("rank"))).toMap
    // doc 4 holds the rare term (df=1) -> must beat every apple-only doc
    assert(out(4L) < out(1L) && out(4L) < out(2L),
      s"rare-term doc must outrank common-term docs: $out")
    // tf saturation is still monotone: apple x2 beats apple x1
    assert(out(2L) < out(1L), s"tf=2 must outrank tf=1 for the same term: $out")
    // doc 3 shares no query term -> absent from results
    assert(!out.contains(3L), s"no shared term may not score: $out")
  }

  test("BM25 registered query: contiguous ranks, positive integer scores, no self hits") {
    val rows = RetrievalQueries.bm25(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rs) =>
      val ranks = rs.map(_.getAs[Int]("rank")).sorted.toSeq
      assert(ranks === (1 to ranks.size), s"query $q ranks not contiguous")
      rs.foreach { r =>
        assert(r.getAs[Long]("score_q") > 0L)
        assert(r.getAs[Long]("doc_id") % 37 != 0L,
          "benchmark (query-side) docs are not in the searched corpus")
      }
    }
  }

  test("RRF: fused score is exactly the sum of the arms' reciprocal contributions") {
    val out = RetrievalQueries.hybridRrf(spark, sf).collect()
    assert(out.nonEmpty)
    def c(rank: Int): Long = math.round(1e9 / (rank + 60))
    // reconstruct both arms independently and recompute every fused row
    val docs = graft.sources.Tables.documents(spark, sf)
    val lex = RetrievalQueries.bm25TopKOf(docs, col("doc_id") % 50 === 0, k = 20)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id")) ->
        r.getAs[Int]("rank")).toMap
    // the registered vector arm is the shared IVF-PQ pass
    val vec = RetrievalQueries.ivfPqTop20Mod50(spark, sf)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")) ->
        r.getAs[Int]("rank")).toMap
    out.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("id"))
      val expected = lex.get(key).map(c).getOrElse(0L) + vec.get(key).map(c).getOrElse(0L)
      assert(r.getAs[Long]("rrf") === expected, s"fusion arithmetic broke at $key")
      val arms = Seq(lex.contains(key), vec.contains(key)).count(identity)
      assert(r.getAs[Int]("n_arms") === arms, s"arm bookkeeping broke at $key")
    }
    // both arms must actually contribute somewhere in the fused top-10
    assert(out.exists(_.getAs[Int]("n_arms") == 2) ||
      (out.exists(r => lex.contains((r.getAs[Long]("query_id"), r.getAs[Long]("id")))) &&
       out.exists(r => vec.contains((r.getAs[Long]("query_id"), r.getAs[Long]("id"))))),
      "fusion must draw on both arms")
  }

  test("hybrid vector arm: IVF-PQ top-20 clears recall@20 >= 0.4 vs the brute floor") {
    // the brute cross join is NOT a registered configuration (it dies at
    // 100 TB) — it survives exactly here, as the recall floor the
    // gated ANN arm is measured against
    val brute = RetrievalQueries.bruteVecTop20(spark, sf).collect()
      .groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.map(_.getAs[Long]("id")).toSet).toMap
    val ann = RetrievalQueries.ivfPqTop20Mod50(spark, sf).collect()
      .groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.map(_.getAs[Long]("neighbor_id")).toSet).toMap
    assert(ann.nonEmpty && ann.keySet === brute.keySet)
    val recalls = brute.keys.toSeq.map(q =>
      (ann(q) intersect brute(q)).size.toDouble / brute(q).size)
    val mean = recalls.sum / recalls.size
    // 4/16-cell probe caps attainable recall; cosine-vs-L2 metric skew
    // costs a little more at k=20
    assert(mean >= 0.4, s"mean recall@20 $mean under the 0.4 floor")
  }

  test("persisted posting index: bucketed probe is exchange-free on the index side " +
      "and matches the in-session index") {
    val table = RetrievalQueries.postingIndexTable(spark, sf)
    // the probe join alone, broadcast disabled: the postings side must
    // read its buckets directly — exactly ONE hash exchange (the tiny
    // query-terms side), zero above the bucketed index scan
    val queries = graft.sources.Tables.documents(spark, sf)
      .filter(col("doc_id") % 37 === 0)
      .select(col("doc_id").as("query_id"),
        explode(array_distinct(graft.functions.TextFunctions.tokens(col("text")))).as("t"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val probe = queries.join(
        spark.table(table).filter(col("doc_id") % 37 =!= 0), Seq("t"))
      val plan = probe.queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(exchanges === 1,
        s"expected 1 exchange (query side only), the bucketed index must not shuffle:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    // end-to-end: identical relation to the in-session shared index
    val indexed = RetrievalQueries.bm25Indexed(spark, sf).collect().toSeq
    val base = RetrievalQueries.bm25(spark, sf).collect().toSeq
    assert(indexed === base, "persisted-index probe diverged from the shared session index")
  }

  test("posting index build drops stale-fingerprint sibling tables " +
      "(r15 review: regeneration must not grow the metastore unboundedly)") {
    import graft.queries.SignalMemo
    // a private corpus dir so the build is cheap and never races the
    // suite's shared sf index table. UPPERCASE in the path on purpose:
    // the catalog stores identifiers lowercased, so a case-sensitive
    // sweep prefix would match nothing and silently never sweep
    val tmp = java.nio.file.Paths.get(suiteTempDir("graft_PIDX_Upper"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(sf, "documents.parquet"),
      tmp.resolve("documents.parquet"))
    val dir = tmp.toString
    val stale = "graft_postings_" + SignalMemo.slug(dir) + "_deadbeefdead"
    spark.sql(s"CREATE TABLE `$stale` (x INT) USING parquet")
    val otherCorpus = "graft_postings_other_corpus_ffff_aaaaaaaaaaaa"
    spark.sql(s"CREATE TABLE `$otherCorpus` (x INT) USING parquet")
    try {
      val table = graft.queries.RetrievalQueries.postingIndexTable(spark, dir)
      assert(spark.catalog.tableExists(table), "current-generation index built")
      assert(!spark.catalog.tableExists(stale),
        "a stale-fingerprint sibling of the same corpus must be dropped")
      assert(spark.catalog.tableExists(otherCorpus),
        "another corpus's index table must be untouched")
      spark.sql(s"DROP TABLE IF EXISTS `$table`")
    } finally spark.sql(s"DROP TABLE IF EXISTS `$otherCorpus`")
  }

  test("postingRows: sorted run-length tf counts match brute counts, dl is total length") {
    val docs = Seq(
      (1L, "b a b b"),
      (2L, "x"),
      (3L, "  c   c  "),
      (4L, "z y z y z")
    ).toDF("doc_id", "text")
    val rows = RetrievalQueries.postingRows(docs)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("t")) ->
        (r.getAs[Int]("tf"), r.getAs[Int]("dl"))).toMap
    assert(rows === Map(
      (1L, "a") -> (1, 4), (1L, "b") -> (3, 4),
      (2L, "x") -> (1, 1),
      (3L, "c") -> (2, 2),
      (4L, "y") -> (2, 5), (4L, "z") -> (3, 5)))
  }

  test("postingRows == brute per-token counting on 200 random docs (seeded)") {
    val rnd = new scala.util.Random(42)
    val alphabet = Vector("a", "bb", "ccc", "d", "e", "ff", "g")
    val docs = (0 until 200).map { i =>
      val n = 1 + rnd.nextInt(30)
      (i.toLong, Seq.fill(n)(alphabet(rnd.nextInt(alphabet.size))).mkString(" "))
    }
    val expected = docs.flatMap { case (id, text) =>
      val toks = text.split("\\s+").toSeq
      toks.groupBy(identity).map { case (t, xs) => (id, t) -> (xs.size, toks.size) }
    }.toMap
    val got = RetrievalQueries.postingRows(docs.toDF("doc_id", "text"))
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("t")) ->
        (r.getAs[Int]("tf"), r.getAs[Int]("dl"))).toMap
    assert(got === expected)
  }

  test("retrieve-and-rerank: output ids come from the lexical candidates, " +
      "reordered by cosine") {
    val cands = RetrievalQueries.bm25TopKOf(
        graft.sources.Tables.documents(spark, sf), col("doc_id") % 50 === 0, k = 20)
      .collect().groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.map(_.getAs[Long]("doc_id")).toSet).toMap
    val out = RetrievalQueries.bm25Rerank(spark, sf).collect()
    assert(out.nonEmpty)
    out.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rs) =>
      assert(rs.map(_.getAs[Int]("rank")).sorted.toSeq === (1 to rs.length),
        s"query $q: ranks not contiguous")
      rs.foreach { r =>
        assert(cands(q).contains(r.getAs[Long]("id")),
          s"query $q: reranked id outside the lexical candidate set")
      }
      // reranked order is by sim desc (id tiebreak), not by bm25
      val sims = rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("sim"))
      assert(sims === sims.sorted.reverse, s"query $q: not ordered by cosine")
    }
  }

  test("mined training pairs: negatives are lexically close but semantically far") {
    val rows = RetrievalQueries.trainingPairs(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rs) =>
      val posIds = rs.map(_.getAs[Long]("pos_id")).toSet
      assert(posIds.size === 1, s"anchor $q must have exactly one positive")
      val negIds = rs.map(_.getAs[Long]("neg_id"))
      assert(negIds.distinct.length === negIds.length, s"anchor $q repeated a negative")
      assert(!negIds.contains(posIds.head),
        s"anchor $q: the positive leaked into the negatives")
      assert(rs.map(_.getAs[Int]("neg_rank")).sorted.toSeq === (1 to rs.length),
        s"anchor $q: negative ranks not contiguous")
      rs.foreach(r => assert(r.getAs[Double]("neg_sim") < 0.35,
        s"anchor $q: negative above the semantic-dup band"))
    }
  }
}
