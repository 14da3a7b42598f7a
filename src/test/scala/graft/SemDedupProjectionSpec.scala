package graft

import org.apache.spark.sql.functions._

import graft.operators.{Ivf, Similarity}
import graft.queries.AnalyticsQueries
import graft.sources.Tables

/** Round-5 additions: SemDeDup semantic dedup, Johnson–Lindenstrauss
  * Rademacher projection, DSIR importance weights. The DuckDB oracles
  * are the cross-engine proof; these specs pin the semantic invariants
  * the oracles can't express (greedy keep rule, matrix determinism,
  * discriminative direction of the weights).
  */
class SemDedupProjectionSpec extends SparkSpec {
  import spark.implicits._

  /** SemDeDup over fresh Lloyd cells of the embeddings fixture. */
  private def semDedup(nCells: Int, iters: Int, threshold: Double,
      maxIntraCellPairs: Option[Long] = None): org.apache.spark.sql.DataFrame = {
    val (_, assigned) = Ivf.buildLloydFlat(
      Tables.embeddings(spark, sf), "vec_id", "embedding", nCells, iters)
    Similarity.semDedupFromCells(assigned, "vec_id", "embedding", nCells,
      threshold, maxIntraCellPairs)
  }

  test("semDedup: dropped rows keep-first invariants and exact dropped set") {
    val emb = Tables.embeddings(spark, sf)
    val dropped = semDedup(nCells = 8, iters = 2, threshold = 0.4)
      .select($"vec_id", $"cell", $"dup_of", $"sim")
      .as[(Long, Int, Long, Double)].collect()

    // every dropped row names a LOWER-id duplicate at/above threshold
    assert(dropped.forall { case (id, _, dupOf, s) => dupOf < id && s >= 0.4 })

    // independent recompute of the dropped SET: within-cell brute pairs
    val (_, assigned) = Ivf.buildLloydFlat(emb, "vec_id", "embedding",
      nCells = 8, iters = 2)
    val a = assigned.select($"cell", $"vec_id".as("id_a"), $"embedding".as("va"))
    val b = assigned.select($"cell", $"vec_id".as("id_b"), $"embedding".as("vb"))
    val expectDropped = a.join(b, Seq("cell"))
      .filter($"id_a" < $"id_b")
      .withColumn("s", round(graft.functions.VectorFunctions.cosine($"va", $"vb"), 9))
      .filter($"s" >= 0.4)
      .select($"id_b").distinct().as[Long].collect().toSet
    assert(dropped.map(_._1).toSet === expectDropped)
    assert(dropped.nonEmpty, "fixture should produce at least one semantic dup")
  }

  test("semDedup: dup_of is the max-sim (tie lowest-id) earlier neighbor") {
    val out = semDedup(nCells = 8, iters = 2, threshold = 0.4)
    // exactly one row per dropped id
    val perId = out.groupBy($"vec_id").count().filter($"count" > 1).count()
    assert(perId === 0)
  }

  test("semDedup: intra-cell pair budget fails loudly with the autoNCells hint") {
    val e = intercept[IllegalStateException] {
      semDedup(nCells = 4, iters = 1, threshold = 0.4,
        maxIntraCellPairs = Some(10L)).count()
    }
    assert(e.getMessage.contains("autoNCells"))
    assert(e.getMessage.contains("budget"))
    // within budget: runs fine
    val ok = semDedup(nCells = 4, iters = 1, threshold = 0.4,
      maxIntraCellPairs = Some(100000L)).count()
    assert(ok >= 0)
  }

  test("autoNCells keeps expected per-cell size at the target") {
    assert(Similarity.autoNCells(1024L * 1000, targetCell = 1024) === 1000)
    assert(Similarity.autoNCells(100, targetCell = 1024) === 2)
    // pair mass under autoNCells is ~n*targetCell/2: linear in n
    val n = 1L << 30
    val k = Similarity.autoNCells(n)
    assert(k.toLong * 1024 >= n && (k - 1).toLong * 1024 < n + 1024)
  }

  test("randomProjection: basis vectors reproduce the md5 sign matrix") {
    val dims = 64
    val basis = (0 until dims).map { i =>
      (i.toLong, Array.tabulate(dims)(d => if (d == i) 1.0f else 0.0f))
    }.toDF("vec_id", "embedding")
    val proj = Similarity.randomProjection(basis, "vec_id", "embedding", dims, 16)
      .as[(Long, Int, Double)].collect()
    // e_i projected onto row j is sign(j,i)/sqrt(16) = ±0.25 exactly
    assert(proj.forall { case (_, _, v) => v == 0.25 || v == -0.25 })
    // reproduce a handful of signs with an independent md5 computation
    val md = java.security.MessageDigest.getInstance("MD5")
    def expectedSign(j: Int, i: Int): Double = {
      val b0 = md.digest(s"rp|$j|$i".getBytes("UTF-8"))(0)
      val c = "0123456789abcdef".charAt((b0 >> 4) & 0xf)
      if (c.toInt % 2 == 1) 0.25 else -0.25
    }
    val byKey = proj.map { case (i, j, v) => ((j, i.toInt), v) }.toMap
    for (j <- 0 until 16; i <- Seq(0, 7, 31, 63))
      assert(byKey((j, i)) === expectedSign(j, i), s"sign mismatch at j=$j i=$i")
  }

  test("randomProjection: linear in the input and norm-preserving on average") {
    val emb = Tables.embeddings(spark, sf).limit(100)
    val p1 = Similarity.randomProjection(emb, "vec_id", "embedding", 64, 16)
    val doubled = emb.select($"vec_id",
      transform($"embedding", x => x * 2.0f).as("embedding"))
    val p2 = Similarity.randomProjection(doubled, "vec_id", "embedding", 64, 16)
    val joined = p1.withColumnRenamed("val", "v1")
      .join(p2.withColumnRenamed("val", "v2"), Seq("vec_id", "pos"))
      .select(abs($"v2" - $"v1" * 2).as("d")).agg(max($"d")).as[Double].first()
    // quantization to 1e-6 units bounds the doubling error
    assert(joined < 1e-5, s"projection not linear: max dev $joined")

    // JL sanity: mean squared norm is preserved in expectation
    val orig = emb.select(graft.functions.VectorFunctions.normSq($"embedding").as("n2"))
      .agg(avg($"n2")).as[Double].first()
    val projected = p1.groupBy($"vec_id").agg(sum($"val" * $"val").as("n2"))
      .agg(avg($"n2")).as[Double].first()
    assert(projected > orig * 0.5 && projected < orig * 2.0,
      s"JL norm preservation out of range: $orig vs $projected")
  }

  test("source mix apply: reconciles with the plan and stays in bounds") {
    val plan = graft.queries.TextQueries.sourceMixPlan(spark, sf)
      .select($"source", $"rate".as("plan_rate"))
    val applied = graft.queries.TextQueries.sourceMixApply(spark, sf)
    // the apply pass derives the SAME rates the plan published
    val drift = applied.join(plan, "source")
      .filter($"rate" =!= $"plan_rate").count()
    assert(drift === 0)
    val rows = applied.select($"n_docs", $"n_kept", $"kept_frac")
      .as[(Long, Long, Double)].collect()
    assert(rows.forall { case (n, k, f) => k >= 0 && k <= n && f >= 0.0 && f <= 1.0 })
    // md5 sampling is deterministic: two runs agree exactly
    val again = graft.queries.TextQueries.sourceMixApply(spark, sf)
    assert(applied.exceptAll(again).count() === 0)
  }

  test("perplexity buckets: thirds split, negative log-probs, head above tail") {
    val b = graft.queries.TextQueries.perplexityBuckets(spark, sf)
    val n = b.count()
    assert(n === Tables.documents(spark, sf).count())
    val byBucket = b.groupBy($"bucket").count()
      .as[(String, Long)].collect().toMap
    assert(byBucket.keySet.subsetOf(Set("head", "middle", "tail")))
    // percent_rank thirds: each bucket holds n/3 ± 1
    byBucket.values.foreach(c => assert(math.abs(c - n / 3.0) <= 1.0))
    // smoothed char-LM probabilities are < 1 ⇒ log-probs strictly negative
    assert(b.filter($"logprob_char" >= 0).count() === 0)
    val headMean = b.filter($"bucket" === "head").agg(avg($"logprob_char"))
      .as[Double].first()
    val tailMean = b.filter($"bucket" === "tail").agg(avg($"logprob_char"))
      .as[Double].first()
    assert(headMean > tailMean)
  }

  test("incremental dedup: is_new agrees with a set-intersection recompute") {
    val out = graft.queries.DedupQueries.dedupIncremental(spark, sf)
    val docs = Tables.documents(spark, sf)
    val fpOf = graft.functions.TextFunctions.fingerprint($"text")
    val histFps = docs.filter($"source" =!= "src0")
      .select(fpOf.as("fp")).distinct().as[String].collect().toSet
    val batch = docs.filter($"source" === "src0")
      .select($"doc_id", fpOf.as("fp")).as[(Long, String)].collect().toMap
    val flags = out.select($"doc_id", $"is_new").as[(Long, Int)].collect()
    assert(flags.nonEmpty)
    flags.foreach { case (id, isNew) =>
      assert((isNew == 1) === !histFps.contains(batch(id)),
        s"doc $id: is_new=$isNew disagrees with set recompute")
    }
  }

  test("incremental dedup: stream-static join equals the batch relation") {
    val batch = graft.queries.DedupQueries.dedupIncremental(spark, sf)
    val streamed = graft.queries.DedupQueries.dedupIncrementalStreamed(spark, sf)
    assert(batch.exceptAll(streamed).count() === 0)
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.count() === streamed.count())
  }

  test("cluster map: cells partition the corpus and dominate consistently") {
    val m = graft.queries.SimilarityQueries.corpusClusterMap(spark, sf)
      .select($"cell", $"n_docs", $"n_langs", $"top_lang_docs")
      .as[(Int, Long, Long, Long)].collect()
    val total = Tables.documents(spark, sf).count()
    assert(m.map(_._2).sum === total, "cells must partition every document")
    m.foreach { case (cell, nDocs, nLangs, topDocs) =>
      assert(topDocs >= 1 && topDocs <= nDocs, s"cell $cell dominance out of range")
      assert(nLangs >= 1 && nLangs <= nDocs)
      // the dominant language must cover at least its equal share
      assert(topDocs * nLangs >= nDocs, s"cell $cell: top lang below equal share")
    }
  }

  test("shuffle order: a stable md5 permutation head with dense positions") {
    val a = graft.queries.TextQueries.corpusShuffleOrder(spark, sf)
      .as[(Int, Long, Long)].collect()
    assert(a.map(_._1).toSeq === (1 to a.length))
    assert(a.map(_._2).distinct.length === a.length)
    // matches an independent driver-side sort of the full corpus
    val md = java.security.MessageDigest.getInstance("MD5")
    def key(id: Long): String =
      md.digest(s"$id|graftshuffle".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
    val expected = Tables.documents(spark, sf).select($"doc_id").as[Long]
      .collect().sortBy(id => (key(id), id)).take(a.length)
    assert(a.map(_._2).toSeq === expected.toSeq)
  }

  test("curation decisions: keep flag is exactly the conjunction of its signals") {
    val d = graft.queries.TextQueries.curationDecisions(spark, sf)
      .select($"doc_id", $"is_survivor", $"ppl_bucket", $"mix_kept",
        $"keep", $"drop_reason")
      .as[(Long, Boolean, String, Boolean, Boolean, String)].collect()
    assert(d.length === Tables.documents(spark, sf).count())
    d.foreach { case (id, surv, ppl, mix, keep, reason) =>
      if (keep) assert(reason === "kept", s"doc $id kept but reason=$reason")
      else assert(reason !== "kept", s"doc $id dropped but reason=kept")
      // first-failing priority: a non-survivor always reads 'duplicate'
      if (!surv) assert(reason === "duplicate")
      else if (ppl == "tail") assert(reason === "perplexity_tail")
      if (reason == "mix_sampled_out") assert(!mix && surv && ppl != "tail")
    }
    // the pipeline keeps SOMETHING and drops something at fixture scale
    assert(d.exists(_._5) && d.exists(!_._5))
  }

  test("importance weights: en documents score above the non-en mean") {
    val w = AnalyticsQueries.textImportanceWeights(spark, sf)
    val en = w.filter($"lang" === "en").agg(avg($"weight")).as[Double].first()
    val rest = w.filter($"lang" =!= "en").agg(avg($"weight")).as[Double].first()
    assert(en > rest,
      s"DSIR weights should rank the target domain higher: en=$en rest=$rest")
    // every document is scored exactly once
    val docs = Tables.documents(spark, sf).count()
    assert(w.count() === docs)
    assert(w.groupBy($"doc_id").count().filter($"count" > 1).count() === 0)
  }
}
