package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{AllPairsJoin, Dedup, SortedNeighborhood}
import graft.sources.Tables

/** Deduplication extension queries over `documents`. The md5-hash
  * variants have exact DuckDB oracles (same shingles, same 16-perm
  * minhash, same 4-band LSH); the xxhash64 simhash variant is engine-fast
  * and gets the weaker rows-only check.
  */
object DedupQueries {

  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exact(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy(col("survivor_id"))

  /** Incremental (cross-run) dedup: the daily-crawl shape — a new batch
    * (source='src0' stands in for today's crawl) is checked against the
    * fingerprint index of everything already ingested. The historical
    * side collapses to one map-combined fingerprint agg (at 100 TB this
    * is the persisted index table, bucketed by fp so the probe join is
    * co-located and reshuffles nothing); the batch side left-joins it
    * to learn which documents are genuinely new. Nothing text-sized
    * crosses the join — fingerprints only. */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val fp = graft.functions.TextFunctions.fingerprint(col("text"))
    val batch = docs.filter(col("source") === "src0")
      .select(col("doc_id"), fp.as("fp"))
    val hist = docs.filter(col("source") =!= "src0")
      .groupBy(fp.as("fp")).agg(count(lit(1)).as("n_hist_copies"))
    batch.join(hist, Seq("fp"), "left")
      .select(col("doc_id"),
        coalesce(col("n_hist_copies"), lit(0L)).as("n_hist_copies"),
        col("n_hist_copies").isNull.cast("int").as("is_new"))
      .orderBy(col("doc_id"))
  }

  /** The STREAMING half of [[dedupIncremental]]: the new batch arrives
    * as a micro-batch stream (file source, AvailableNow) and probes the
    * SAME static historical fingerprint index through a stream-static
    * left join — Spark's stateless streaming join (the static side is
    * re-planned per micro-batch, no state store grows). Same output,
    * same DuckDB oracle as the batch query, so stream==batch
    * equivalence for the crawl-ingest flow sits under the hash gate. */
  def dedupIncrementalStreamed(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val fp = graft.functions.TextFunctions.fingerprint(col("text"))
    val batch = spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
      .filter(col("source") === "src0")
      .select(col("doc_id"), fp.as("fp"))
    val hist = Tables.documents(spark, dir).filter(col("source") =!= "src0")
      .groupBy(fp.as("fp")).agg(count(lit(1)).as("n_hist_copies"))
    val joined = batch.join(hist, Seq("fp"), "left")
      .select(col("doc_id"),
        coalesce(col("n_hist_copies"), lit(0L)).as("n_hist_copies"),
        col("n_hist_copies").isNull.cast("int").as("is_new"))
    graft.streaming.StreamGate.collect("dedup_inc", joined).orderBy(col("doc_id"))
  }

  /** The engine-neutral 16-bit md5 uniform hash, shared with
    * TextQueries' mix draw (single home: [[graft.functions.TextFunctions.u16]]). */
  private def u16(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.functions.TextFunctions.u16(c)

  /** Bloom-filter membership screen (Bloom 1970) over the historical
    * shingle set — the compact-index complement of [[dedupIncremental]]:
    * instead of joining the crawl against the full n-gram index, the
    * history's distinct word-3-shingles fold into an m=65536-bit / k=4
    * Bloom filter, materialized as the DISTINCT set-bit positions
    * (≤ m rows regardless of corpus size, broadcast to every probe
    * task). A shingle's k positions are u16(md5(shingle || '#' || i)),
    * so both engines rebuild the filter bit-identically. Each new-batch
    * (source='src0') shingle is maybe-seen iff all 4 bits are set; the
    * exact semi-join rides along so the oracle certifies BOTH Bloom
    * laws on this corpus: no false negatives (n_maybe ≥ n_exact per
    * doc) and a real false-positive mass (the fixture m deliberately
    * runs at ~0.62 load ⇒ ~14% fp). At 100 TB the bit set IS the
    * persisted index — an 8 KiB-order broadcast (m sized to the
    * corpus) replacing a billions-row n-gram table; the verification
    * join is dropped in production. */
  def dedupBloomProbe(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.shingles
    // r19: measured and deliberately NOT spread — the shingle streams
    // here are allocation-bound (string explode), and a 32-way spread
    // inflated exec/GC for a worse wall; the md5 reduction below is
    // the win that held
    val docs = Tables.documents(spark, dir)
    def bitPositions(c: org.apache.spark.sql.Column) =
      array((0 until 4).map(i => u16(concat(c, lit(s"#$i")))): _*)
    val hist = docs.filter(col("source") =!= "src0")
      .select(explode(shingles(col("text"), 3)).as("s")).distinct()
    val bits = hist.select(explode(bitPositions(col("s"))).as("bit")).distinct()
      .withColumn("hit", lit(1))
    val batch = docs.filter(col("source") === "src0")
      .select(col("doc_id"), explode(shingles(col("text"), 3)).as("s"))
    // r19: the 4 bit positions are a function of the SHINGLE alone and
    // shingles() emits per-doc-distinct shingles, so draw the bits once
    // per DISTINCT batch shingle and equi-join the verdict back —
    // identical `maybe` per (doc, s) row (count(hit) over one doc's
    // shingle was always exactly its 4 draws), with the md5 work and
    // the ×4 bit-row explode shrunk from every (doc, shingle) row to
    // the batch's shingle vocabulary. The tiny per-shingle verdict side
    // stays unhinted (AQE broadcasts it while small — the bm25 idf
    // reasoning).
    val sMaybe = batch.select(col("s")).distinct()
      .select(col("s"), explode(bitPositions(col("s"))).as("bit"))
      .join(broadcast(bits), Seq("bit"), "left")
      .groupBy(col("s"))
      .agg((count(col("hit")) === 4).cast("int").as("maybe"))
    batch.join(sMaybe, Seq("s"))
      .select(col("doc_id"), col("s"), col("maybe"))
      // NO broadcast hint on hist: unlike `bits` (≤ m rows by
      // construction), the distinct-shingle set grows with the corpus —
      // a forced broadcast has no AQE escape and OOMs at scale. This
      // exact semi-join is the oracle-only verification arm anyway
      // (dropped in production, see scaladoc); let stats/AQE choose.
      .join(hist.withColumn("exact", lit(1)), Seq("s"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(col("maybe")).as("n_maybe_hist"),
        coalesce(sum(col("exact")), lit(0L)).as("n_exact_hist"))
      .orderBy(col("doc_id"))
  }

  def dedupMinhashPairs(spark: SparkSession, dir: String): DataFrame =
    // r19: spread the unsplittable scan — 16 md5 permutations per
    // shingle fused into it single-task
    Dedup.minhashNearDups(
      Tables.spreadForCompute(Tables.documents(spark, dir), col("doc_id")),
      "doc_id", "text",
      k = 3, numHashes = 16, bands = 4, threshold = 0.8, useMd5 = true)
      .orderBy(col("id_a"), col("id_b"))

  def dedupNgramJaccard(spark: SparkSession, dir: String): DataFrame =
    // r19: spread — the shingle fingerprint pass is scan-fused
    Dedup.ngramJaccardFingerprintBlocked(
      Tables.spreadForCompute(Tables.documents(spark, dir), col("doc_id")),
      "doc_id", "text", k = 3, threshold = 0.8)
      .orderBy(col("id_a"), col("id_b"))

  /** md5-family simhash with maxHamming=3 < bands=4: the banding is
    * exact (pigeonhole) and the hash is engine-neutral, so this variant
    * carries a FULL oracle — the DuckDB side rebuilds each 64-bit
    * signature from md5 hex nibbles and brute-forces the hamming
    * filter. maxBucket is sized to never bind at oracle scale.
    *
    * This row gates the WHOLE simhash family: the xxhash64 fast path
    * (`Dedup.simhashNearDups` default) is the same banding/rerank
    * machinery with only the hash swapped — it is not approximate,
    * just engine-private, so it is pinned by DedupSpec (hamming laws,
    * fused==HOF bit-equality, repartition determinism) instead of a
    * weaker rows-only gate entry. */
  def dedupSimhashMd5Pairs(spark: SparkSession, dir: String): DataFrame =
    // r19: spread — per-token md5 bit votes are scan-fused
    Dedup.simhashNearDups(
      Tables.spreadForCompute(Tables.documents(spark, dir), col("doc_id")),
      "doc_id", "text",
      maxHamming = 3, maxBucket = 1000000, useMd5 = true)
      .orderBy(col("id_a"), col("id_b"))

  def dedupWinnowing(spark: SparkSession, dir: String): DataFrame =
    // r19: spread — the rolling-hash fingerprint pass is scan-fused
    Dedup.winnowingCandidates(
      Tables.spreadForCompute(Tables.documents(spark, dir), col("doc_id")),
      "doc_id", "text",
      k = 3, window = 4, minShared = 5, maxBucket = 100)
      .orderBy(col("id_a"), col("id_b"))

  /** Composed training-data prep: quality filter → language filter →
    * exact dedup, the stages of a corpus-cleaning pipeline in one plan. */
  def prepPipeline(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions
    val docs = Tables.documents(spark, dir)
      .withColumn("q", TextFunctions.qualityScore(col("text")))
      .filter(col("q") >= 0.5)
      .filter(TextFunctions.langId(col("text")) === "en")
    Dedup.exact(docs, "doc_id", "text")
      .select(col("survivor_id"), col("n_copies"))
      .orderBy(col("survivor_id"))
  }

  /** The full training-corpus preparation pipeline as ONE declarative
    * plan — quality filter → language filter → exact dedup (min-id
    * survivor) → fuzzy dedup (MinHash-LSH pairs ≥ 0.8, drop the higher
    * id of every pair) → fixed-window chunking — emitting per-surviving-
    * doc chunk/token counts. Every stage is a library operator; Catalyst
    * sees one tree, so filters fuse into the scan and the only shuffles
    * are the dedup group-bys and the LSH bucket collect. */
  def corpusPipelineFull(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions
    // the filtered frame feeds the dedup group-by AND the survivor
    // join-back — persist so the interpreted quality/lang lambdas run
    // one scan, not one per branch. The pin is consumed by the RETURNED
    // lazy plan, so it cannot unpersist here; PinRegistry bounds a
    // session to two live generations instead of leaking one
    // corpus-scale cache per invocation (the Dedup operators'
    // discipline, operators/LocalCheckpoints.scala)
    // r19: spread the unsplittable scan BEFORE the interpreted
    // quality/lang lambdas and the persist — the cached frame keeps the
    // spread partitioning, so the three consumer branches (exact-dedup
    // group-by, survivor join-back, minhash banding with its 16 md5
    // permutations per shingle) all run executor-wide instead of
    // inheriting the scan's single partition
    val docs = Tables.spreadForCompute(Tables.documents(spark, dir), col("doc_id"))
      .withColumn("q", TextFunctions.qualityScore(col("text")))
      .filter(col("q") >= 0.5)
      .filter(TextFunctions.langId(col("text")) === "en")
      .select(col("doc_id"), col("text"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.operators.PinRegistry.replace("queries.corpusPipelineFull", Seq(docs))
    val survivors = Dedup.exact(docs, "doc_id", "text")
      .select(col("survivor_id").as("doc_id"))
      .join(docs, "doc_id")
    val nearDupLosers = Dedup.minhashNearDups(survivors, "doc_id", "text",
      k = 3, numHashes = 16, bands = 4, threshold = 0.8, useMd5 = true)
      .select(col("id_b").as("doc_id")).distinct()
    val kept = survivors.join(nearDupLosers, Seq("doc_id"), "left_anti")
    kept
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("w"))
      .select(col("doc_id"),
        size(expr("sequence(0, greatest(size(w)-1, 0), 40)")).as("n_chunks"),
        size(col("w")).as("n_tokens"))
      .orderBy(col("doc_id"))
  }

  /** The (node, component) clusters WITHOUT the presentation sort —
    * consumers that re-partition anyway (the survivor window) skip the
    * global range-exchange the ordered form pays. A SignalMemo signal
    * table: the LSH+connected-components pass is a corpus-wide one-off
    * (and a written table under `spark.graft.signalDir`), so the
    * second consumer in a session — `dedup_best_survivor` after
    * `dedup_clusters`, or vice versa — probes it for free instead of
    * re-running MinHash banding and the CC loop. Like EVERY signal
    * table, the written form is keyed by the corpus dir PLUS a content
    * fingerprint of its parquet files (SignalMemo.sourceFingerprint),
    * so regenerating data in-place at the same path orphans the old
    * signals instead of silently serving them. */
  /** The MinHash-LSH near-dup pair list, memoized as its own signal:
    * the cluster chain here AND GraphQueries' PageRank consume it, so
    * a session pays the banding pipeline once across all of them. */
  private[graft] def neardupPairs(spark: SparkSession, dir: String): DataFrame =
    SignalMemo.cached(spark, dir, "neardup_pairs") {
      Dedup.minhashNearDups(Tables.documents(spark, dir), "doc_id", "text",
        k = 3, numHashes = 16, bands = 4, threshold = 0.8, useMd5 = true)
        .select(col("id_a"), col("id_b"))
    }

  private def clusterComponents(spark: SparkSession, dir: String): DataFrame =
    SignalMemo.cached(spark, dir, "neardup_clusters") {
      Dedup.connectedComponents(neardupPairs(spark, dir))
    }

  /** Near-dup pairs → transitive dedup clusters: connected components
    * over the MinHash-LSH pair list (the step that turns pairwise
    * matches into groups with one survivor each). */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    clusterComponents(spark, dir).orderBy(col("node"))

  /** INCREMENTAL near-dup maintenance, gated against the batch answer:
    * `source = 'src0'` plays today's arriving crawl, everything else is
    * the already-ingested corpus whose persisted state (cluster labels,
    * banded signature index, shingle store) the batch probes — the
    * existing texts are never re-shingled or re-banded. The oracle is a
    * FULL DuckDB recompute over the union corpus, so the hash gate
    * proves incremental == batch cross-engine (the gold-standard law
    * for any incremental-view operator; see
    * [[graft.operators.Dedup.incrementalNearDupComponents]] for the
    * maxBucket-crossing caveat). At scale: batch-sized map work, a
    * keyed probe into the bucketed index, broadcast verify, and a
    * batch-bounded component delta relabeling the node-sized state. */
  /** The prior cluster state (existing corpus = everything but the
    * src0 batch), memoized as the signal a deployment would have
    * persisted at the previous ingest. The memo is what makes it
    * written-once state instead of a per-invocation rebuild —
    * minhashNearDups pins its shingle frame, so an unmemoized build
    * would accumulate one per invocation. */
  private def incrPriorComp(spark: SparkSession, dir: String): DataFrame =
    SignalMemo.cached(spark, dir, "incr_prior_comp") {
      Dedup.connectedComponents(
        Dedup.minhashNearDups(
          Tables.documents(spark, dir).filter(col("source") =!= "src0"),
          "doc_id", "text",
          k = 3, numHashes = 16, bands = 4, threshold = 0.8, useMd5 = true))
    }

  /** The UPDATED cluster state after the src0 increment, memoized: it
    * has two registered consumers (`dedup_incremental_neardup` and the
    * delta log) and — the deployment reading — it IS the next ingest's
    * `incr_prior_comp`: incremental maintenance exists precisely so
    * each state is written once and read forward. */
  private def incrUpdatedComp(spark: SparkSession, dir: String): DataFrame =
    SignalMemo.cached(spark, dir, "incr_updated_comp") {
      val docs = Tables.documents(spark, dir)
      val arriving = docs.filter(col("source") === "src0")
      def existing = docs.filter(col("source") =!= "src0")
      // the remaining two ingest-persisted tables (see
      // [[incrPriorComp]]); the index is stored BUCKET-COLLECTED — its
      // one shuffle runs at ingest, so the per-batch probe only
      // exchanges batch rows
      val exIdx = SignalMemo.cached(spark, dir, "incr_bucket_index") {
        Dedup.bucketedIndex(existing, "doc_id", "text")
      }
      val exSh = SignalMemo.cached(spark, dir, "incr_shingle_store") {
        Dedup.shingleFrame(existing, "doc_id", "text")
      }
      Dedup.incrementalNearDupComponents(
        incrPriorComp(spark, dir), exIdx, exSh, arriving, "doc_id", "text")
    }

  def dedupIncrementalNeardup(spark: SparkSession, dir: String): DataFrame =
    incrUpdatedComp(spark, dir).orderBy(col("node"))

  /** TWO-BATCH incremental chain (r14): ingest `src0`, carry the FULL
    * persisted state forward — labels from the probe, the banded/bucket
    * index via [[graft.operators.Dedup.updatedBandedState]], the
    * shingle store via the same ids-anti-join the probe applies — then
    * ingest `src1` against the CARRIED state. The oracle is the full
    * DuckDB recompute over the union corpus, so the hash gate certifies
    * the state-forwarding law ("each state is written once and IS the
    * next ingest's prior") across two generations cross-engine, not
    * just the single-step law `dedup_incremental_neardup` pins. At
    * scale this is the steady-state shape of a daily ingest: all three
    * state updates are batch-keyed probes; nothing rescans the prior
    * corpus. */
  private def incr2Updated(spark: SparkSession, dir: String): DataFrame =
    SignalMemo.cached(spark, dir, "incr2_updated_comp") {
      val docs = Tables.documents(spark, dir)
      def existing = docs.filter(!col("source").isin("src0", "src1"))
      val batch0 = docs.filter(col("source") === "src0")
      val batch1 = docs.filter(col("source") === "src1")
      val comp0 = SignalMemo.cached(spark, dir, "incr2_prior_comp") {
        Dedup.connectedComponents(
          Dedup.minhashNearDups(existing, "doc_id", "text",
            k = 3, numHashes = 16, bands = 4, threshold = 0.8, useMd5 = true))
      }
      val banded0 = SignalMemo.cached(spark, dir, "incr2_banded0") {
        Dedup.bandedIndex(existing, "doc_id", "text")
      }
      val buckets0 = SignalMemo.cached(spark, dir, "incr2_buckets0") {
        Dedup.collectBuckets(banded0)
      }
      val sh0 = SignalMemo.cached(spark, dir, "incr2_shingles0") {
        Dedup.shingleFrame(existing, "doc_id", "text")
      }
      val comp1 = Dedup.incrementalNearDupComponents(
        comp0, buckets0, sh0, batch0, "doc_id", "text")
      val (_, buckets1) = Dedup.updatedBandedState(
        banded0, buckets0, batch0, "doc_id", "text")
      val sh1 = Dedup.updatedShingleStore(sh0, batch0, "doc_id", "text")
      Dedup.incrementalNearDupComponents(
        comp1, buckets1, sh1, batch1, "doc_id", "text")
    }

  def dedupIncremental2Batch(spark: SparkSession, dir: String): DataFrame =
    incr2Updated(spark, dir).orderBy(col("node"))

  /** RETRACTION (takedown / right-to-be-forgotten): `source = 'src10'`
    * plays the removal set; the persisted full-corpus state (the
    * memoized cluster labels AND the verified edge list — deletes are
    * why a deployment stores edges, not just labels) is updated by
    * dropping the removed docs' edges and re-closing ONLY the affected
    * components: untouched clusters pass through verbatim, members that
    * lost their last edge drop out, and a component whose bridge was
    * removed SPLITS. Oracle: the full DuckDB recompute from scratch
    * over `documents WHERE source <> 'src10'` (the shingle CTE is
    * parameterized by document relation), so the hash gate proves
    * retract == recompute cross-engine — the deletion mirror of
    * `dedup_incremental_neardup`'s insert law. */
  def dedupRetractClusters(spark: SparkSession, dir: String): DataFrame =
    Dedup.retractFromClusters(
        clusterComponents(spark, dir),
        neardupPairs(spark, dir),
        Tables.documents(spark, dir).filter(col("source") === "src10"),
        "doc_id")
      .orderBy(col("node"))

  /** CLUSTER DELTA LOG of the increment: one row per updated component
    * the src0 batch touched — how many docs were already clustered
    * (`n_docs_prior`), how many entered with the increment
    * (`n_docs_new`: arriving docs plus existing docs clustered for the
    * first time through an arriving bridge), how many PRIOR groups the
    * component absorbed (`n_prior_groups` > 1 ⇒ a merge), and whether
    * any prior member's label moved (`relabeled` — the exact
    * reassignment event the train/eval split's stability note in
    * DEPLOYMENT.md tells operators to watch: a relabeled group's
    * md5-parity split side moves on re-derivation). Oracle: the
    * union-graph recompute AND its existing-only restriction closed
    * side by side (the parameterized cluster CTEs), outer-joined per
    * member — the hash gate checks prior state, updated state, and the
    * diff in one relation. */
  def dedupClusterDelta(spark: SparkSession, dir: String): DataFrame = {
    val prior = incrPriorComp(spark, dir)
      .select(col("node"), col("component").as("old_c"))
    incrUpdatedComp(spark, dir)
      .join(prior, Seq("node"), "left")
      .groupBy(col("component"))
      .agg(
        count(lit(1)).as("n_docs"),
        count(col("old_c")).as("n_docs_prior"),
        (count(lit(1)) - count(col("old_c"))).as("n_docs_new"),
        countDistinct(col("old_c")).as("n_prior_groups"),
        max(when(col("old_c").isNotNull && col("old_c") =!= col("component"),
          lit(1)).otherwise(lit(0))).as("relabeled"))
      .filter(col("n_docs_new") > 0 || col("relabeled") === 1)
      .orderBy(col("component"))
  }

  /** LEAKAGE-SAFE train/eval split: every document joins its near-dup
    * CLUSTER (the memoized connected components; singletons are their
    * own group), and the split is assigned per GROUP, never per
    * document — two near-duplicate documents can therefore never land
    * on opposite sides, the contamination mode a naive per-doc split
    * invites (an eval doc whose near-copy sits in train is a leaked
    * answer). Assignment is an md5 parity pair on the group id
    * (engine-neutral, deterministic, ~25% eval), so the whole relation
    * sits under the DuckDB hash gate; the leakage LAW (no group spans
    * splits) is additionally spec-pinned. At 100 TB this is one
    * broadcast-or-shuffle join against the cluster signal plus a
    * map-side hash — the clusters are the expensive part and they are
    * already the memoized/written `dedup_clusters` signal. */
  def dedupLeakageSplit(spark: SparkSession, dir: String): DataFrame = {
    val comp = clusterComponents(spark, dir)
      .withColumnRenamed("node", "doc_id")
    val g = Tables.documents(spark, dir).select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("group_id"))
    val h = md5(col("group_id").cast("string"))
    g.withColumn("split",
        when((ascii(substring(h, 1, 1)) % 2 === 0) &&
             (ascii(substring(h, 2, 1)) % 2 === 0), "eval")
          .otherwise("train"))
      .orderBy(col("doc_id"))
  }

  /** DECONTAMINATION AUDIT over the leakage-safe split: train-side
    * documents that still share winnowing fingerprints with eval-side
    * documents. The cluster-aware split already pins NEAR-DUPLICATES
    * to one side; what can still straddle the boundary is PARTIAL
    * overlap below the near-dup threshold — quotations, shared
    * boilerplate, copied passages — which is precisely eval
    * contamination a deployment must audit before training. Same
    * fingerprint eligibility as `dedup_winnowing_candidates`
    * (window-4 winnowing over 3-gram md5s, posting cap 100) but a
    * LOWER sharing floor (≥2 fingerprints): the split already pins
    * everything at near-dup strength to one side, so contamination
    * that crosses it is by construction weaker overlap — auditing at
    * the near-dup floor would be vacuously empty. Pairs are oriented
    * (train_doc, eval_doc) across the split. At scale: the
    * fingerprint pass is map-side, the pair join
    * is bounded by the capped postings, and the split join is against
    * the cluster-signal-sized relation. */
  def decontamEvalOverlap(spark: SparkSession, dir: String): DataFrame = {
    val split = dedupLeakageSplit(spark, dir).select(col("doc_id"), col("split"))
    Dedup.winnowingCandidates(
        Tables.spreadForCompute(Tables.documents(spark, dir), col("doc_id")),
        "doc_id", "text", k = 3, window = 4, minShared = 2, maxBucket = 100)
      .join(split.select(col("doc_id").as("id_a"), col("split").as("split_a")), "id_a")
      .join(split.select(col("doc_id").as("id_b"), col("split").as("split_b")), "id_b")
      .filter(col("split_a") =!= col("split_b"))
      .select(
        when(col("split_a") === "train", col("id_a")).otherwise(col("id_b")).as("train_doc"),
        when(col("split_a") === "eval", col("id_a")).otherwise(col("id_b")).as("eval_doc"),
        col("n_shared_fps"))
      .orderBy(col("train_doc"), col("eval_doc"))
  }

  /** Exact substring dedup at 10-token passage granularity: which spans
    * of each document are copied text anywhere in the corpus, and how
    * many tokens survive removing them. */
  def dedupPassages(spark: SparkSession, dir: String): DataFrame =
    Dedup.passageDedup(Tables.documents(spark, dir), "doc_id", "text",
      passageTokens = 10)
      .orderBy(col("doc_id"))

  /** The REWRITE half of the passage pass (r18): the cleaned documents
    * themselves — corpus-duplicated tiles dropped, survivors
    * reassembled in order — the C4-style span-discard whose statistics
    * `dedup_passages` reports. r19: emits the rewritten text as a
    * `clean_text` column (the production corpus output) alongside the
    * `clean_md5` fingerprint; BOTH are oracle-compared, so the hash
    * match proves the emitted documents byte-identical across engines
    * twice over. */
  def dedupPassageRewrite(spark: SparkSession, dir: String): DataFrame =
    Dedup.passageRewrite(Tables.documents(spark, dir), "doc_id", "text",
      passageTokens = 10)
      .orderBy(col("doc_id"))

  /** [[dedupPassages]] with the heavy-hitter BROADCAST split forced
    * LOW ([[Dedup.withPassageOcc]] `hotTileOcc = 3`, r19 — VERDICT r18
    * ask #1's mitigation; the operators default it to 10000, which no
    * tile reaches at gate scale, so this row pins the threshold where
    * the split actually engages): tiles occurring >= 3 times
    * corpus-wide resolve by broadcast (their rows never shuffle), the
    * light remainder takes the bounded-skew shuffled join. The oracle
    * is the SAME corpus-wide-count semantics as `dedup_passages`, so
    * the hash match proves the heavy/light split + union drops and
    * double-counts nothing on real data — the lossless receipt for the
    * mitigated path; `PassageSkewProbe` holds its task-concentration
    * receipt. */
  def dedupPassagesHotsplit(spark: SparkSession, dir: String): DataFrame =
    Dedup.passageDedup(Tables.documents(spark, dir), "doc_id", "text",
      passageTokens = 10, hotTileOcc = 3L)
      .orderBy(col("doc_id"))

  /** Boilerplate MINING over the passage tiling (r19): the corpus-wide
    * duplicated tiles themselves, ranked — the diagnostic a production
    * C4 pass runs FIRST (what is the boilerplate? how hot is the
    * hottest tile?) and the exact table `Dedup.withPassageOcc`'s
    * heavy-hitter threshold is tuned against. One map-combined
    * groupBy(passage).count — the skew-immune aggregate shape; the
    * duplicated subset is tiny next to the tile count. */
  def dedupHotPassages(spark: SparkSession, dir: String): DataFrame =
    Dedup.hotPassages(Tables.documents(spark, dir), "doc_id", "text",
      passageTokens = 10, minOcc = 2L)
      .orderBy(col("n_occ").desc, col("passage"))

  /** INGEST-time passage contamination screen, batch form
    * ([[Dedup.passageScreen]], r19): each src0 (arriving) document's
    * share of tiles already present in the standing corpus — the
    * drop/down-weight signal a C4-style pipeline computes BEFORE
    * admitting a crawl batch. History side = the persisted per-passage
    * count table (one [[Dedup.hotPassages]]-shaped map-combined
    * aggregate over the standing docs, `minOcc = 1` so ANY standing
    * occurrence contaminates). */
  def dedupPassageScreen(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val hist = Dedup.hotPassages(docs.filter(col("source") =!= "src0"),
      "doc_id", "text", passageTokens = 10, minOcc = 1L)
    Dedup.passageScreen(docs.filter(col("source") === "src0"), hist,
      "doc_id", "text", passageTokens = 10)
      .orderBy(col("doc_id"))
  }

  /** The SAME screen with the arriving batch REPLAYED through the
    * streaming file source (stream-static history join + update-mode
    * rollup; a doc's tiles ride one input row, so its aggregate row is
    * final in the batch that carried it — the settle's max per doc_id
    * is an identity, kept for the replay-overlap discipline every
    * update-mode sink read uses). Same oracle as the batch twin:
    * stream == batch == external engine. */
  def dedupPassageScreenStreamed(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val arriving = spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
      .filter(col("source") === "src0")
    val hist = Dedup.hotPassages(
      Tables.documents(spark, dir).filter(col("source") =!= "src0"),
      "doc_id", "text", passageTokens = 10, minOcc = 1L)
    val screened = Dedup.passageScreen(arriving, hist, "doc_id", "text",
      passageTokens = 10)
    graft.streaming.StreamGate.collect("passage_screen", screened, outputMode = "update")
      .groupBy(col("doc_id"))
      .agg(max(col("n_tiles")).as("n_tiles"), max(col("n_contam")).as("n_contam"),
        max(col("contam_share")).as("contam_share"))
      .orderBy(col("doc_id"))
  }

  /** Sliding-window exact substring dedup over the corpus
    * ([[Dedup.substringSpans]] — the Lee et al. 2022 ExactSubstr pass
    * at 8-token granularity; catches the boundary-straddling copies
    * `dedup_passages`' disjoint tiles miss). */
  def dedupSubstringSpans(spark: SparkSession, dir: String): DataFrame =
    // r19: spread — the per-position k-gram md5 pass is scan-fused
    Dedup.substringSpans(
      Tables.spreadForCompute(Tables.documents(spark, dir), col("doc_id")),
      "doc_id", "text", k = 8)
      .orderBy(col("doc_id"))

  /** Quality-aware survivor selection over the near-dup clusters — the
    * production dedup semantics: keep the BEST copy of each cluster
    * (highest `qualityScore`, min doc_id on exact ties), not the
    * min-id copy. Composes the connected-components clusters with the
    * shared quality signal; one row_number window over the (small)
    * clustered-doc set picks the survivor deterministically. At scale
    * the quality join touches only clustered ids (near-dup members,
    * ≪ corpus) and the window partitions by component — no
    * corpus-sized shuffle beyond what clustering already did. */
  def dedupBestSurvivor(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val clusters = clusterComponents(spark, dir)
    // prune to clustered ids BEFORE scoring: qualityScore is a
    // tokenize + regex pass, and clustered docs are ≪ corpus — a
    // corpus-wide score would be discarded for every unclustered doc
    val q = Tables.documents(spark, dir)
      .join(clusters.select(col("node")), col("doc_id") === col("node"), "left_semi")
      .select(col("doc_id"),
        graft.functions.TextFunctions.qualityScore(col("text")).as("q"))
    val w = Window.partitionBy(col("component"))
      .orderBy(col("q").desc, col("node").asc)
    clusters.join(q, clusters("node") === q("doc_id"))
      .withColumn("rn", row_number().over(w))
      .groupBy(col("component"))
      .agg(count(lit(1)).as("n_members"),
        max(when(col("rn") === 1, col("node"))).as("survivor_id"),
        round(max(when(col("rn") === 1, col("q"))), 6).as("survivor_q"))
      .orderBy(col("component"))
  }

  /** EXACT all-pairs Jaccard ≥ 0.7 self-join via prefix filtering
    * (Bayardo et al. WWW'07, [[AllPairsJoin]]) over distinct word
    * 3-shingles — the lossless counterpart of the probabilistic LSH
    * pair queries: the oracle computes the naive exact join, so a
    * hash match PROVES the prefix filter dropped no qualifying pair. */
  def dedupAllpairsJaccard(spark: SparkSession, dir: String): DataFrame = {
    // r20: spread BEFORE the shingling. The operator consumes its input
    // three times (token stream, verify side A, verify side B); unspread
    // those were three separate scan-fused single-task stages — the
    // profile showed a ~1.4 s SERIAL chain of 1-task stages (scan +
    // wordShingles kernel each time). With the spread exchange below
    // them the three subtrees are plan-identical up to the exchange, so
    // ReusedExchange materializes the scan ONCE and each shingling pass
    // runs executor-wide. Identity at many-row-group production layouts
    // (spreadForCompute contract).
    val sets = Tables.spreadForCompute(Tables.documents(spark, dir), col("doc_id"))
      .select(col("doc_id"),
        graft.functions.TextFunctions.shingles(col("text"), 3).as("s"))
    AllPairsJoin.jaccardSelfJoin(sets, "doc_id", "s", tauNum = 7, tauDen = 10)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Classic entity-resolution blocking + edit-distance scoring, via
    * SORTED-NEIGHBORHOOD blocking ([[SortedNeighborhood]], Hernández &
    * Stolfo SIGMOD'95): parts within `window` positions of each other
    * in the global (p_name, p_partkey) sort order pair up, and close
    * names survive a Levenshtein threshold. The round-9 version keyed
    * blocks on brand × size-band — a FIXED ≈125-block cardinality, so
    * block population grew linearly with the corpus and within-block
    * pair volume quadratically (the VERDICT r9 scale-killer). Sorted
    * neighborhood inverts that: the "block" is a fixed-size window
    * span, candidate volume is exactly n·window at ANY corpus size,
    * and name-sorting is precisely the order edit-distance blocking
    * wants (typo variants sort adjacent). Both engines implement the
    * same classic edit distance AND the same rank join, so the pair
    * set is exact-integer comparable; scale behavior (bucket size ==
    * window under 10× inflation) is spec-pinned in
    * SortedNeighborhoodSpec. Complements the shingle/minhash family:
    * edit distance catches single-token typo variants
    * Jaccard-over-shingles ranks low. */
  def dedupLevenshteinBlock(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir).select(col("p_partkey"), col("p_name"))
    SortedNeighborhood
      .candidatePairs(p, Seq(col("p_name"), col("p_partkey")), window = 10)
      // thresholded variant: the DP matrix computation abandons a pair
      // the moment every band cell exceeds 5 (returns -1) instead of
      // finishing the full O(|a|·|b|) table — most window pairs are NOT
      // within distance 5, so the early exit is the common path. The
      // surviving (dist >= 0) set is identical to `levenshtein <= 5`,
      // which is what the oracle's plain formulation computes.
      .withColumn("dist", levenshtein(col("a.p_name"), col("b.p_name"), 5))
      .filter(col("dist") >= 0)
      .select(least(col("a.p_partkey"), col("b.p_partkey")).as("id_a"),
        greatest(col("a.p_partkey"), col("b.p_partkey")).as("id_b"),
        col("dist").cast("int").as("dist"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** MULTI-PASS sorted neighborhood (the second half of Hernández &
    * Stolfo '95): one sort order has a blind spot — a typo in the
    * FIRST characters of a name moves the record far from its
    * duplicate in name order, outside any fixed window. The classic
    * remedy is additional passes under independent sort keys; here a
    * second pass sorts by the REVERSED name (prefix typos become
    * suffix typos and sort adjacent again), and the pair set is the
    * union. Scale shape: each pass is the same linear n·window
    * candidate stream as the single-pass query, and the union dedups
    * by one ids-width distinct — candidate volume is exactly
    * passes·n·window at ANY corpus size. The Levenshtein score and
    * its threshold filter run INSIDE each pass, before the cross-pass
    * union: `dist` is functionally determined by the pair, so scoring
    * the (few) pairs both passes find twice costs two cheap DP calls,
    * while the union's distinct shuffle then carries three ints per
    * row instead of two full name payloads and dedups the (smaller)
    * surviving set rather than every candidate — at 100 TB with long
    * names the ids-width shuffle is the difference that matters
    * (ShuffleBudgetSpec pins the distinct exchange string-free). Pair
    * orientation is canonical (id_a < id_b, names ordered by that
    * rule), so the cross-pass distinct and the oracle's UNION agree
    * row-for-row. */
  def dedupSnmMultipass(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir).select(col("p_partkey"), col("p_name"))
    def pass(keyed: DataFrame, order: Seq[org.apache.spark.sql.Column]) =
      SortedNeighborhood.candidatePairs(keyed, order, window = 10)
        .select(
          least(col("a.p_partkey"), col("b.p_partkey")).as("id_a"),
          greatest(col("a.p_partkey"), col("b.p_partkey")).as("id_b"),
          when(col("a.p_partkey") < col("b.p_partkey"), col("a.p_name"))
            .otherwise(col("b.p_name")).as("name_a"),
          when(col("a.p_partkey") < col("b.p_partkey"), col("b.p_name"))
            .otherwise(col("a.p_name")).as("name_b"))
        .withColumn("dist", levenshtein(col("name_a"), col("name_b"), 5))
        .filter(col("dist") >= 0)
        .select(col("id_a"), col("id_b"), col("dist").cast("int").as("dist"))
    val byName = pass(p, Seq(col("p_name"), col("p_partkey")))
    val byRev = pass(p.withColumn("_rname", reverse(col("p_name"))),
      Seq(col("_rname"), col("p_partkey")))
    byName.unionByName(byRev).distinct()
      .orderBy(col("id_a"), col("id_b"))
  }

  /** (bands, rows-per-band) factorizations of the 16-hash signature —
    * the whole banding design space for the registered MinHash
    * config. */
  private val lshBandConfigs = Seq((1, 16), (2, 8), (4, 4), (8, 2), (16, 1))

  /** The S-curve cell `P(candidate | J = s) = 1 − (1 − s^r)^b` in
    * EXACT integer micro-units for s = k/10: with r·b = 16 the value
    * is (10^16 − (10^r − k^r)^b) / 10^16 — every intermediate fits a
    * signed 64-bit integer (max 10^16 < 2^63), so both engines
    * evaluate the identical integer expression and the hash gate needs
    * no cross-engine float discipline at all. `sym` is the similarity
    * variable's column name; `divOp` the dialect's integer division. */
  private def lshPMicroSql(b: Int, r: Int, sym: String, divOp: String): String = {
    val kr = Seq.fill(r)(sym).mkString("(", "*", ")")
    val tenR = BigInt(10).pow(r)
    val m = Seq.fill(b)(s"($tenR - $kr)").mkString("(", "*", ")")
    s"CAST(((10000000000000000 - $m + 5000000000) $divOp 10000000000) AS BIGINT)"
  }

  /** LSH BANDING PLANNER — the knob the whole MinHash family turns on.
    * For a fixed signature length (16 hashes, the registered config)
    * the banding (b bands × r rows) decides the candidate S-curve
    * `P(candidate | J=s) = 1 − (1−s^r)^b`: more bands ⇒ higher recall
    * but more candidates (the quadratic term the scale probe watches);
    * longer bands ⇒ finer buckets but a threshold pushed right
    * (≈ (1/b)^(1/r)). This relation emits the full design space so a
    * deployment picks its banding from a TABLE instead of folklore —
    * exactly the decision the r4 BENCH_NOTES envelope discussion
    * ("static banding breaks at 100×; re-band via autoBitsPerBand")
    * needs quantified. Emitted in exact integer micro-units (see
    * [[lshPMicroSql]]) so the oracle is bit-exact; DedupSpec pins the
    * curve's laws (monotone in s, band-count dominance, the registered
    * 4×4 config's ≥90% recall at its 0.8 operating threshold) and a
    * BigDecimal cross-check of every cell. */
  def dedupLshBandPlan(spark: SparkSession, dir: String): DataFrame = {
    val parts = lshBandConfigs.map { case (b, r) =>
      spark.range(1, 10).selectExpr(
        s"$b AS bands", s"$r AS rows_per_band",
        "CAST(id AS INT) AS s_tenths",
        s"${lshPMicroSql(b, r, "id", "div")} AS p_micro")
    }
    parts.reduce(_ unionByName _).orderBy(col("bands"), col("s_tenths"))
  }

  /** Window sizes swept by `dedup_snm_window_plan`. */
  private val snmPlanWindows = Seq(2, 5, 10, 20)

  /** SNM WINDOW PLANNER — the sorted-neighborhood knob quantified: for
    * each window size, the candidate count (EXACTLY (n−w)·w + w(w−1)/2
    * by construction — the linear-volume law the scale probe measures,
    * here oracle-gated as an exact relation) and the count of pairs
    * surviving the Levenshtein ≤ 5 threshold. Candidates grow linearly
    * with the window while survivors saturate (close names sort close,
    * so widening the window mostly adds far-apart non-matches) — the
    * table a deployment reads to pick its window instead of guessing.
    * All integer counts; DedupSpec pins the closed-form candidate law
    * and survivor monotonicity. */
  /** The measured window-plan TABLE, memoized per (session, corpus):
    * both the published relation (`dedup_snm_window_plan`) and the
    * prescriptive consumer (`dedup_snm_autowindow`) read it, so a
    * session pays the 4-window SNM sweep once. */
  private def snmWindowPlanTable(spark: SparkSession, dir: String): DataFrame =
    SignalMemo.cached(spark, dir, "snm_window_plan") {
      val p = Tables.part(spark, dir).select(col("p_partkey"), col("p_name"))
      snmPlanWindows.map { w =>
        SortedNeighborhood
          .candidatePairs(p, Seq(col("p_name"), col("p_partkey")), window = w)
          .withColumn("dist", levenshtein(col("a.p_name"), col("b.p_name"), 5))
          .agg(count(lit(1)).as("candidates"),
            sum(when(col("dist") >= 0, 1L).otherwise(0L)).as("survivors"))
          .select(lit(w).as("win"), col("candidates"), col("survivors"))
      }.reduce(_ unionByName _)
    }

  def dedupSnmWindowPlan(spark: SparkSession, dir: String): DataFrame =
    snmWindowPlanTable(spark, dir).orderBy(col("win"))

  /** Operating point for the prescriptive banding choice: the
    * registered MinHash near-dup threshold (J=0.8) and a recall floor
    * that sits strictly between the (8,2) arm (0.9997) and the (2,8)
    * arm (0.31) — the choice is interior and lands on 4×4. */
  private[graft] val AutoBandingTargetTenths = 8
  private[graft] val AutoBandingRecallFloorMicro = 850000L

  /** THE PRESCRIPTIVE BANDING CHOICE for the MinHash family (VERDICT
    * r11 ask #3, fourth planner consumed): the S-curve row
    * [[graft.operators.Dedup.autoBanding]] selects at the registered
    * operating point — within-floor configs first, then longest
    * rows-per-band (finest buckets ⇒ cheapest verify join), ties to
    * fewer bands; max-recall fallback. On the 16-hash design space
    * this lands exactly on the REGISTERED 4×4 banding: the config the
    * engine ships is the config the planner derives. All-integer row,
    * oracle-gated through the same generated arithmetic as the band
    * plan itself. */
  def dedupAutobandChoice(spark: SparkSession, dir: String): DataFrame = {
    val floor = lit(AutoBandingRecallFloorMicro)
    dedupLshBandPlan(spark, dir)
      .filter(col("s_tenths") === AutoBandingTargetTenths)
      .orderBy((col("p_micro") >= floor).desc,
        when(col("p_micro") >= floor, -col("rows_per_band").cast("long"))
          .otherwise(-col("p_micro")),
        col("bands"))
      .limit(1)
  }

  /** Coverage floor for the prescriptive window choice: the smallest
    * window keeping ≥95% of the widest window's surviving matches. */
  private[graft] val AutoWindowCoverageMicro = 950000L

  /** THE PRESCRIPTIVE WINDOW CHOICE for sorted-neighborhood blocking
    * (VERDICT r11 ask #3): the window-plan row with the smallest window
    * whose survivors reach 95% of the widest window's (survivors are
    * monotone in the window — wider windows see a superset of candidate
    * pairs — so the widest row always qualifies and the choice is
    * total). Candidates grow linearly with the window while survivors
    * saturate; this is that trade, decided from the measured table.
    * Mirrored verbatim by the `dedup_snm_autowindow` DuckDB oracle. */
  def dedupSnmAutowindow(spark: SparkSession, dir: String): DataFrame = {
    val plan = snmWindowPlanTable(spark, dir)
    val mx = plan.agg(max(col("survivors")).as("ms"))
    plan.crossJoin(broadcast(mx))
      .filter(col("survivors") * lit(1000000L) >= lit(AutoWindowCoverageMicro) * col("ms"))
      .select(col("win"), col("candidates"), col("survivors"))
      .orderBy(col("win"))
      .limit(1)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_snm_window_plan" -> (dedupSnmWindowPlan _),
    "dedup_snm_autowindow" -> (dedupSnmAutowindow _),
    "dedup_lsh_band_plan" -> (dedupLshBandPlan _),
    "dedup_autoband_choice" -> (dedupAutobandChoice _),
    "dedup_levenshtein_block" -> (dedupLevenshteinBlock _),
    "dedup_snm_multipass" -> (dedupSnmMultipass _),
    "dedup_allpairs_jaccard" -> (dedupAllpairsJaccard _),
    "dedup_substring_spans" -> (dedupSubstringSpans _),
    "dedup_best_survivor" -> (dedupBestSurvivor _),
    "dedup_leakage_split" -> (dedupLeakageSplit _),
    "decontam_eval_overlap" -> (decontamEvalOverlap _),
    "dedup_passages" -> (dedupPassages _),
    "dedup_passages_hotsplit" -> (dedupPassagesHotsplit _),
    "dedup_hot_passages" -> (dedupHotPassages _),
    "dedup_passage_screen" -> (dedupPassageScreen _),
    "dedup_passage_screen_streamed" -> (dedupPassageScreenStreamed _),
    "dedup_passage_rewrite" -> (dedupPassageRewrite _),
    "dedup_clusters" -> (dedupClusters _),
    "dedup_incremental_neardup" -> (dedupIncrementalNeardup _),
    "dedup_incremental_2batch" -> (dedupIncremental2Batch _),
    "dedup_cluster_delta" -> (dedupClusterDelta _),
    "dedup_retract_clusters" -> (dedupRetractClusters _),
    "dedup_winnowing_candidates" -> (dedupWinnowing _),
    "prep_pipeline" -> (prepPipeline _),
    "corpus_pipeline_full" -> (corpusPipelineFull _),
    "dedup_exact" -> (dedupExact _),
    "dedup_incremental" -> (dedupIncremental _),
    "dedup_incremental_streamed" -> (dedupIncrementalStreamed _),
    "dedup_bloom_probe" -> (dedupBloomProbe _),
    "dedup_minhash_pairs" -> (dedupMinhashPairs _),
    "dedup_ngram_jaccard" -> (dedupNgramJaccard _),
    "dedup_simhash_md5_pairs" -> (dedupSimhashMd5Pairs _)
  )

  /** Batch and streamed passage screens produce the same relation: each
    * arriving (src0) doc's tiles left-joined against the standing
    * corpus's passage set, rolled up per doc. */
  private val passageScreenOracle =
    """WITH t AS (
      |  SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS w
      |  FROM documents),
      |p AS (
      |  SELECT doc_id, source,
      |         array_to_string(w[CAST(s+1 AS INT):CAST(s+10 AS INT)], ' ') AS passage
      |  FROM t, UNNEST(range(0, len(w), 10)) AS u(s)),
      |hist AS (
      |  SELECT passage, COUNT(*) AS n_occ FROM p
      |  WHERE source <> 'src0' GROUP BY passage),
      |b AS (SELECT doc_id, passage FROM p WHERE source = 'src0')
      |SELECT b.doc_id,
      |       COUNT(*) AS n_tiles,
      |       CAST(SUM(CASE WHEN h.passage IS NOT NULL THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_contam,
      |       round(CAST(SUM(CASE WHEN h.passage IS NOT NULL THEN 1 ELSE 0 END)
      |                  AS DOUBLE) / COUNT(*), 6) AS contam_share
      |FROM b LEFT JOIN hist h ON b.passage = h.passage
      |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin

  /** Batch and streamed incremental dedup produce the same relation. */
  private val incrementalOracle =
    """WITH f AS (
      |  SELECT doc_id, source,
      |         md5(regexp_replace(trim(text), '\s+', ' ', 'g')) AS fp
      |  FROM documents),
      |hist AS (
      |  SELECT fp, COUNT(*) AS n_hist_copies FROM f
      |  WHERE source <> 'src0' GROUP BY fp),
      |batch AS (SELECT doc_id, fp FROM f WHERE source = 'src0')
      |SELECT b.doc_id,
      |       COALESCE(h.n_hist_copies, 0) AS n_hist_copies,
      |       CAST(h.n_hist_copies IS NULL AS INT) AS is_new
      |FROM batch b LEFT JOIN hist h ON h.fp = b.fp
      |ORDER BY b.doc_id""".stripMargin

  /** Shared shingle CTE: distinct word 3-shingles, mirroring
    * TextFunctions.shingles(text, 3). */
  /** [[shingleCte]] over a caller-chosen document relation, so the
    * retraction oracle can run the WHOLE chain from scratch on the
    * post-delete corpus (`dedup_retract_clusters`). The plain
    * `shingleCte` is the ("documents") instance every other consumer
    * shares. */
  private def shingleCteOver(docsRel: String): String =
    s"""sh AS (
       |  SELECT doc_id,
       |         list_distinct(list_transform(range(len(w)-2),
       |           i -> array_to_string(w[i+1:i+3], ' '))) AS s
       |  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
       |        FROM $docsRel)
       |  WHERE len(w) >= 3
       |)""".stripMargin

  private val shingleCte = shingleCteOver("documents")

  /** The LSH→Jaccard→symmetrized-edges chain (the SQL mirror of
    * [[graft.operators.Dedup.minhashNearDups]] with this module's
    * parameters), ending in `edges(src, dst)`. Shared by the cluster
    * oracles below and by GraphQueries' PageRank oracle, so the pair
    * graph can never silently diverge between them. Consumes `sh`
    * from [[shingleCte]]. */
  private[queries] val neardupEdgesCteSql =
    """t AS (SELECT doc_id, unnest(s) AS sng FROM sh),
      |sig AS (
      |  SELECT t.doc_id, h.i, MIN(md5(CAST(h.i AS VARCHAR) || '|' || t.sng)) AS mh
      |  FROM t CROSS JOIN (SELECT unnest(range(16)) AS i) h
      |  GROUP BY t.doc_id, h.i),
      |band AS (
      |  SELECT doc_id, i // 4 AS b, md5(string_agg(mh, ',' ORDER BY i)) AS bh
      |  FROM sig GROUP BY doc_id, i // 4),
      |cand AS (
      |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
      |  FROM band x JOIN band y ON x.b = y.b AND x.bh = y.bh
      |  WHERE x.doc_id < y.doc_id),
      |pairs AS (
      |  SELECT c.id_a, c.id_b
      |  FROM cand c JOIN sh a ON a.doc_id = c.id_a JOIN sh b ON b.doc_id = c.id_b
      |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      |          / len(list_distinct(a.s || b.s)) >= 0.8),
      |edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM pairs
      |  UNION ALL SELECT id_b, id_a FROM pairs)""".stripMargin

  /** [[shingleCte]] is consumed by [[neardupEdgesCteSql]]; exposed
    * together for cross-module oracle composition. */
  private[queries] def neardupGraphCtes: String =
    shingleCte + ",\n" + neardupEdgesCteSql

  /** Connected components over the near-dup edges (the SQL mirror of
    * [[dedupClusters]]' Spark side), shared by the `dedup_clusters`
    * and `dedup_best_survivor` oracles. Consumes `edges` from
    * [[neardupEdgesCteSql]]; ends with `comp(node, component)`. */
  /** The cluster chain + group-level split assignment, shared verbatim
    * by the `dedup_leakage_split` and `decontam_eval_overlap` oracles
    * (a hand-rolled copy in either would let the split definitions
    * drift apart). Callers prefix with `WITH RECURSIVE`. */
  private def leakageSplitCtes: String =
    s"""$neardupGraphCtes,
       |$clusterCteSql,
       |grouped AS (
       |  SELECT d.doc_id, CAST(COALESCE(c.component, d.doc_id) AS BIGINT) AS group_id
       |  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id),
       |sp AS (
       |  SELECT doc_id, group_id,
       |         CASE WHEN ascii(substr(md5(CAST(group_id AS VARCHAR)), 1, 1)) % 2 = 0
       |               AND ascii(substr(md5(CAST(group_id AS VARCHAR)), 2, 1)) % 2 = 0
       |              THEN 'eval' ELSE 'train' END AS split
       |  FROM grouped)""".stripMargin

  /** [[clusterCteSql]] with renamable CTE identifiers and edge
    * relation, so one oracle can close components over two DIFFERENT
    * edge sets (the union graph and its existing-only restriction,
    * `dedup_merge_events`) without name collisions. `clusterCteSql` is
    * the ("edges", "") instance every other consumer shares. */
  private def clusterCtesNamed(edges: String, sfx: String): String =
    s"""nodes$sfx AS (SELECT DISTINCT src AS node FROM $edges),
       |reach$sfx(node, label) AS (
       |  SELECT node, node FROM nodes$sfx
       |  UNION
       |  SELECT e.dst, r.label FROM reach$sfx r JOIN $edges e ON e.src = r.node),
       |comp$sfx AS (SELECT node, MIN(label) AS component FROM reach$sfx GROUP BY node)"""
      .stripMargin

  private val clusterCteSql = clusterCtesNamed("edges", "")

  private val langScoreCols =
    """len(list_filter(w, t -> t IN ('the','a','and','of'))) AS c_en,
      |len(list_filter(w, t -> t IN ('der','die','das','und'))) AS c_de,
      |len(list_filter(w, t -> t IN ('el','la','los','y'))) AS c_es,
      |len(list_filter(w, t -> t IN ('le','les','et','je'))) AS c_fr""".stripMargin

  /** The SNM window-plan UNION (one rank-self-join arm per window —
    * the proven single-pass SNM oracle shape, reduced to counts),
    * shared by the plan relation's oracle and the window choice's. */
  private def snmWindowPlanOracleUnion: String = snmPlanWindows.map { w =>
    s"""SELECT * FROM (WITH r AS (
       |  SELECT p_partkey, p_name,
       |         ROW_NUMBER() OVER (ORDER BY p_name, p_partkey) AS rn
       |  FROM part)
       |SELECT $w AS win,
       |       CAST(COUNT(*) AS BIGINT) AS candidates,
       |       CAST(SUM(CASE WHEN levenshtein(a.p_name, b.p_name) <= 5
       |                     THEN 1 ELSE 0 END) AS BIGINT) AS survivors
       |FROM r a JOIN r b ON b.rn - a.rn BETWEEN 1 AND $w)""".stripMargin
  }.mkString("\nUNION ALL\n")

  /** The band-plan UNION, generated from the SAME Scala arithmetic
    * builder as the Spark plan (lshPMicroSql) — only the
    * integer-division operator differs by dialect — shared by the plan
    * relation's oracle and the banding choice's. */
  private def lshBandPlanOracleUnion: String = lshBandConfigs.map { case (b, r) =>
    s"""SELECT $b AS bands, $r AS rows_per_band,
       |       CAST(range AS INT) AS s_tenths,
       |       ${lshPMicroSql(b, r, "range", "//")} AS p_micro
       |FROM range(1, 10)""".stripMargin
  }.mkString("\nUNION ALL\n")

  val oracles: Map[String, String] = Map(
    // candidates/survivors are exact integers so the hash gate needs
    // no float discipline
    "dedup_snm_window_plan" -> (snmWindowPlanOracleUnion + "\nORDER BY win"),
    // the dedupSnmAutowindow policy, verbatim: smallest window keeping >= 95%
    // of the widest window's survivors (monotone, so always non-empty)
    "dedup_snm_autowindow" ->
      s"""WITH plan AS (
         |$snmWindowPlanOracleUnion
         |), m AS (SELECT MAX(survivors) AS ms FROM plan)
         |SELECT win, candidates, survivors FROM plan, m
         |WHERE survivors * 1000000 >= $AutoWindowCoverageMicro * ms
         |ORDER BY win LIMIT 1""".stripMargin,
    // all-integer, so the hash matches bit-exactly with no float
    // discipline
    "dedup_lsh_band_plan" -> (lshBandPlanOracleUnion + "\nORDER BY bands, s_tenths"),
    // the autoBanding policy, verbatim: within-floor first, then
    // longest rows-per-band (finest buckets), ties to fewer bands;
    // max-recall fallback
    "dedup_autoband_choice" ->
      s"""SELECT * FROM (
         |$lshBandPlanOracleUnion
         |) WHERE s_tenths = $AutoBandingTargetTenths
         |ORDER BY (p_micro >= $AutoBandingRecallFloorMicro) DESC,
         |  CASE WHEN p_micro >= $AutoBandingRecallFloorMicro
         |       THEN -rows_per_band ELSE -p_micro END,
         |  bands
         |LIMIT 1""".stripMargin,
    // the literal sorted-neighborhood definition: a rank range join,
    // mirroring SortedNeighborhood.candidatePairs' window semantics
    "dedup_levenshtein_block" ->
      """WITH r AS (
        |  SELECT p_partkey, p_name,
        |         ROW_NUMBER() OVER (ORDER BY p_name, p_partkey) AS rn
        |  FROM part)
        |SELECT LEAST(a.p_partkey, b.p_partkey) AS id_a,
        |       GREATEST(a.p_partkey, b.p_partkey) AS id_b,
        |       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
        |FROM r a JOIN r b ON b.rn - a.rn BETWEEN 1 AND 10
        |WHERE levenshtein(a.p_name, b.p_name) <= 5
        |ORDER BY id_a, id_b""".stripMargin,
    // multi-pass SNM: the literal two-rank-join UNION (name order +
    // reversed-name order), deduped by UNION's set semantics exactly
    // like the engine's cross-pass distinct
    "dedup_snm_multipass" ->
      """WITH r1 AS (
        |  SELECT p_partkey, p_name,
        |         ROW_NUMBER() OVER (ORDER BY p_name, p_partkey) AS rn
        |  FROM part),
        |r2 AS (
        |  SELECT p_partkey, p_name,
        |         ROW_NUMBER() OVER (ORDER BY reverse(p_name), p_partkey) AS rn
        |  FROM part),
        |c AS (
        |  SELECT LEAST(a.p_partkey, b.p_partkey) AS id_a,
        |         GREATEST(a.p_partkey, b.p_partkey) AS id_b,
        |         CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
        |  FROM r1 a JOIN r1 b ON b.rn - a.rn BETWEEN 1 AND 10
        |  UNION
        |  SELECT LEAST(a.p_partkey, b.p_partkey),
        |         GREATEST(a.p_partkey, b.p_partkey),
        |         CAST(levenshtein(a.p_name, b.p_name) AS INT)
        |  FROM r2 a JOIN r2 b ON b.rn - a.rn BETWEEN 1 AND 10)
        |SELECT id_a, id_b, dist FROM c
        |WHERE dist <= 5
        |ORDER BY id_a, id_b""".stripMargin,
    "dedup_substring_spans" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
        |g AS (
        |  SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
        |         md5(array_to_string(w[CAST(u.i+1 AS INT):CAST(u.i+8 AS INT)], ' ')) AS h
        |  FROM t, UNNEST(range(0, greatest(len(w) - 8 + 1, 0))) AS u(i)),
        |c AS (SELECT h FROM g GROUP BY h HAVING COUNT(*) >= 2),
        |d AS (SELECT g.doc_id, g.pos FROM g JOIN c USING (h)),
        |m AS (
        |  SELECT doc_id, pos,
        |         MAX(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_end
        |  FROM d),
        |s AS (
        |  SELECT doc_id, pos,
        |         SUM(CASE WHEN prev_max_end IS NULL OR pos >= prev_max_end
        |                  THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
        |  FROM m),
        |sp AS (
        |  SELECT doc_id, span_id, MAX(pos + 8) - MIN(pos) AS span_len
        |  FROM s GROUP BY doc_id, span_id),
        |pd AS (
        |  SELECT doc_id, COUNT(*) AS n_spans, SUM(span_len) AS dup_tokens
        |  FROM sp GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS total_tokens,
        |       CAST(COALESCE(pd.n_spans, 0) AS BIGINT) AS n_spans,
        |       CAST(COALESCE(pd.dup_tokens, 0) AS BIGINT) AS dup_tokens,
        |       round(CAST(COALESCE(pd.dup_tokens, 0) AS DOUBLE)
        |             / CAST(len(t.w) AS DOUBLE), 6) AS dup_ratio
        |FROM t LEFT JOIN pd USING (doc_id) ORDER BY t.doc_id""".stripMargin,
    "dedup_passages" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
        |p AS (
        |  SELECT doc_id,
        |         array_to_string(w[CAST(s+1 AS INT):CAST(s+10 AS INT)], ' ') AS passage,
        |         CAST(len(w[CAST(s+1 AS INT):CAST(s+10 AS INT)]) AS BIGINT) AS n_toks
        |  FROM t, UNNEST(range(0, len(w), 10)) AS u(s)),
        |f AS (
        |  SELECT doc_id, n_toks,
        |         COUNT(*) OVER (PARTITION BY passage) AS n_occ
        |  FROM p)
        |SELECT doc_id,
        |       COUNT(*) AS n_passages,
        |       CAST(SUM(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_passages,
        |       CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
        |       CAST(SUM(CASE WHEN n_occ = 1 THEN n_toks ELSE 0 END) AS BIGINT) AS n_kept_tokens,
        |       round(CAST(SUM(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |             / COUNT(*), 6) AS dup_share
        |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // the rewrite half rebuilt Avro-free: identical tiling, identical
    // corpus occurrence count, survivors string_agg'd in tile order —
    // a hash match proves the emitted CLEAN DOCUMENTS are byte-identical
    // across engines, both as raw text (clean_text, r19) and as the md5
    // fingerprint
    "dedup_passage_rewrite" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
        |p AS (
        |  SELECT doc_id, s,
        |         array_to_string(w[CAST(s+1 AS INT):CAST(s+10 AS INT)], ' ') AS passage
        |  FROM t, UNNEST(range(0, len(w), 10)) AS u(s)),
        |f AS (
        |  SELECT doc_id, s, passage,
        |         COUNT(*) OVER (PARTITION BY passage) AS n_occ
        |  FROM p)
        |SELECT doc_id,
        |       COUNT(*) AS n_passages,
        |       CAST(SUM(CASE WHEN n_occ <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       coalesce(string_agg(CASE WHEN n_occ <= 1 THEN passage END,
        |                           ' ' ORDER BY s), '') AS clean_text,
        |       md5(coalesce(string_agg(CASE WHEN n_occ <= 1 THEN passage END,
        |                               ' ' ORDER BY s), '')) AS clean_md5
        |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // the heavy/light broadcast split is an execution strategy, not a
    // semantics change: the oracle is the SAME corpus-wide-count
    // relation as dedup_passages — hash equality proves the split +
    // union lossless on real data
    "dedup_passages_hotsplit" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
        |p AS (
        |  SELECT doc_id,
        |         array_to_string(w[CAST(s+1 AS INT):CAST(s+10 AS INT)], ' ') AS passage,
        |         CAST(len(w[CAST(s+1 AS INT):CAST(s+10 AS INT)]) AS BIGINT) AS n_toks
        |  FROM t, UNNEST(range(0, len(w), 10)) AS u(s)),
        |f AS (
        |  SELECT doc_id, n_toks,
        |         COUNT(*) OVER (PARTITION BY passage) AS n_occ
        |  FROM p)
        |SELECT doc_id,
        |       COUNT(*) AS n_passages,
        |       CAST(SUM(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_passages,
        |       CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
        |       CAST(SUM(CASE WHEN n_occ = 1 THEN n_toks ELSE 0 END) AS BIGINT) AS n_kept_tokens,
        |       round(CAST(SUM(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |             / COUNT(*), 6) AS dup_share
        |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "dedup_hot_passages" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
        |p AS (
        |  SELECT doc_id,
        |         array_to_string(w[CAST(s+1 AS INT):CAST(s+10 AS INT)], ' ') AS passage
        |  FROM t, UNNEST(range(0, len(w), 10)) AS u(s))
        |SELECT passage, COUNT(*) AS n_occ, min(doc_id) AS first_doc
        |FROM p GROUP BY passage HAVING COUNT(*) >= 2
        |ORDER BY n_occ DESC, passage""".stripMargin,
    "dedup_passage_screen" -> passageScreenOracle,
    "dedup_passage_screen_streamed" -> passageScreenOracle,
    "dedup_winnowing_candidates" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS wd FROM documents),
        |h AS (
        |  SELECT doc_id,
        |         CASE WHEN len(wd) >= 3
        |              THEN list_transform(range(len(wd)-2),
        |                     i -> md5(array_to_string(wd[i+1:i+3], ' ')))
        |              ELSE [] END AS hs
        |  FROM t),
        |fp AS (
        |  SELECT doc_id,
        |         CASE WHEN len(hs) >= 4
        |              THEN list_distinct(list_transform(range(len(hs)-3),
        |                     j -> list_min(hs[j+1:j+4])))
        |              WHEN len(hs) > 0 THEN [list_min(hs)]
        |              ELSE [] END AS fps
        |  FROM h),
        |e AS (SELECT doc_id, unnest(fps) AS fp FROM fp),
        |counts AS (SELECT fp, COUNT(*) AS n FROM e GROUP BY fp),
        |elig AS (SELECT e.* FROM e JOIN counts c USING (fp)
        |         WHERE c.n BETWEEN 2 AND 100),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM elig a JOIN elig b ON a.fp = b.fp AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b, COUNT(*) AS n_shared_fps
        |FROM pairs GROUP BY id_a, id_b HAVING COUNT(*) >= 5
        |ORDER BY id_a, id_b""".stripMargin,
    "prep_pipeline" ->
      s"""WITH tok AS (
         |  SELECT doc_id, text, string_split_regex(trim(text), '\\s+') AS w
         |  FROM documents),
         |scored AS (
         |  SELECT doc_id, text,
         |         least(CAST(len(w) AS DOUBLE) / 50.0, 1.0) * 0.5
         |         + (CAST(len(list_filter(w, t -> t IN ('the','a','and','of'))) AS DOUBLE)
         |            / CAST(len(w) AS DOUBLE)) * 0.3
         |         + least((CAST(length(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS DOUBLE)
         |                  / CAST(len(w) AS DOUBLE)) / 10.0, 1.0) * 0.2 AS q,
         |         $langScoreCols
         |  FROM tok),
         |filtered AS (
         |  SELECT doc_id, text FROM scored
         |  WHERE q >= 0.5
         |    AND CASE WHEN c_en > 0 AND c_en = greatest(c_en, c_de, c_es, c_fr) THEN 'en'
         |             WHEN c_de > 0 AND c_de = greatest(c_en, c_de, c_es, c_fr) THEN 'de'
         |             WHEN c_es > 0 AND c_es = greatest(c_en, c_de, c_es, c_fr) THEN 'es'
         |             WHEN c_fr > 0 AND c_fr = greatest(c_en, c_de, c_es, c_fr) THEN 'fr'
         |             ELSE 'und' END = 'en')
        |SELECT MIN(doc_id) AS survivor_id, COUNT(*) AS n_copies
        |FROM filtered
        |GROUP BY md5(regexp_replace(trim(text), '\\s+', ' ', 'g'))
        |ORDER BY survivor_id""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(regexp_replace(trim(text), '\s+', ' ', 'g')) AS fp,
        |       MIN(doc_id) AS survivor_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY fp ORDER BY survivor_id""".stripMargin,
    "dedup_incremental" -> incrementalOracle,
    // stream-static join produces the identical relation — same oracle
    "dedup_incremental_streamed" -> incrementalOracle,
    "dedup_bloom_probe" -> {
      def nib(p: Int) =
        s"(CASE WHEN ascii(substr(h, $p, 1)) >= 97 THEN ascii(substr(h, $p, 1)) - 87" +
          s" ELSE ascii(substr(h, $p, 1)) - 48 END)"
      s"""WITH t AS (
         |  SELECT doc_id, source, string_split_regex(trim(text), '\\s+') AS w
         |  FROM documents),
         |sh AS (
         |  SELECT doc_id, source,
         |         unnest(list_distinct(list_transform(range(len(w)-2),
         |                  i -> array_to_string(w[i+1:i+3], ' ')))) AS s
         |  FROM t WHERE len(w) >= 3),
         |hist AS (SELECT DISTINCT s FROM sh WHERE source <> 'src0'),
         |pos AS (
         |  SELECT s, md5(s || '#' || CAST(i AS VARCHAR)) AS h
         |  FROM hist, range(4) r(i)),
         |bits AS (
         |  SELECT DISTINCT
         |         ((${nib(1)} * 16 + ${nib(2)}) * 16 + ${nib(3)}) * 16 + ${nib(4)} AS bit
         |  FROM pos),
         |bp AS (
         |  SELECT doc_id, s, md5(s || '#' || CAST(i AS VARCHAR)) AS h
         |  FROM sh, range(4) r(i) WHERE source = 'src0'),
         |bpb AS (
         |  SELECT doc_id, s,
         |         ((${nib(1)} * 16 + ${nib(2)}) * 16 + ${nib(3)}) * 16 + ${nib(4)} AS bit
         |  FROM bp),
         |probe AS (
         |  SELECT p.doc_id, p.s,
         |         CASE WHEN COUNT(b.bit) = 4 THEN 1 ELSE 0 END AS maybe
         |  FROM bpb p LEFT JOIN bits b ON p.bit = b.bit
         |  GROUP BY p.doc_id, p.s)
         |SELECT pr.doc_id,
         |       COUNT(*) AS n_shingles,
         |       CAST(SUM(pr.maybe) AS BIGINT) AS n_maybe_hist,
         |       CAST(SUM(CASE WHEN hf.s IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_exact_hist
         |FROM probe pr LEFT JOIN hist hf ON hf.s = pr.s
         |GROUP BY pr.doc_id
         |ORDER BY pr.doc_id""".stripMargin
    },
    // naive exact all-pairs: a hash match proves the Spark side's
    // prefix filter is lossless at the 7/10 threshold
    "dedup_allpairs_jaccard" ->
      s"""WITH $shingleCte,
         |t AS (SELECT doc_id, unnest(s) AS sng FROM sh),
         |i AS (
         |  SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS inter
         |  FROM t x JOIN t y ON x.sng = y.sng AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2),
         |z AS (SELECT doc_id, len(s) AS sz FROM sh)
         |SELECT i.id_a, i.id_b, CAST(i.inter AS BIGINT) AS inter,
         |       CAST(a.sz + b.sz - i.inter AS BIGINT) AS uni,
         |       CAST((i.inter * 1000000) // (a.sz + b.sz - i.inter) AS BIGINT) AS jac_micro
         |FROM i JOIN z a ON a.doc_id = i.id_a JOIN z b ON b.doc_id = i.id_b
         |WHERE i.inter * 10 >= (a.sz + b.sz - i.inter) * 7
         |ORDER BY id_a, id_b""".stripMargin,
    "dedup_minhash_pairs" ->
      s"""WITH $shingleCte,
         |t AS (SELECT doc_id, unnest(s) AS sng FROM sh),
         |sig AS (
         |  SELECT t.doc_id, h.i, MIN(md5(CAST(h.i AS VARCHAR) || '|' || t.sng)) AS mh
         |  FROM t CROSS JOIN (SELECT unnest(range(16)) AS i) h
         |  GROUP BY t.doc_id, h.i),
         |band AS (
         |  SELECT doc_id, i // 4 AS b, md5(string_agg(mh, ',' ORDER BY i)) AS bh
         |  FROM sig GROUP BY doc_id, i // 4),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM band x JOIN band y ON x.b = y.b AND x.bh = y.bh
         |  WHERE x.doc_id < y.doc_id)
         |SELECT c.id_a, c.id_b,
         |       CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
         |         / len(list_distinct(a.s || b.s)) AS jaccard
         |FROM cand c JOIN sh a ON a.doc_id = c.id_a JOIN sh b ON b.doc_id = c.id_b
         |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
         |        / len(list_distinct(a.s || b.s)) >= 0.8
         |ORDER BY id_a, id_b""".stripMargin,
    "dedup_ngram_jaccard" ->
      s"""WITH $shingleCte,
         |blocked AS (
         |  SELECT doc_id, s, list_min(list_transform(s, x -> md5(x))) AS block
         |  FROM sh),
         |counts AS (SELECT block, COUNT(*) AS n FROM blocked GROUP BY block),
         |eligible AS (
         |  SELECT b.* FROM blocked b JOIN counts c USING (block)
         |  WHERE c.n BETWEEN 2 AND 1000)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |       CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
         |         / len(list_distinct(a.s || b.s)) AS jaccard
         |FROM eligible a JOIN eligible b ON a.block = b.block AND a.doc_id < b.doc_id
         |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
         |        / len(list_distinct(a.s || b.s)) >= 0.8
         |ORDER BY id_a, id_b""".stripMargin,
    // transitive closure via recursive CTE: same minhash pair pipeline,
    // then min-reachable-label per node (UNION set semantics terminate
    // the recursion at the fixpoint)
    "dedup_clusters" ->
      s"""WITH RECURSIVE $neardupGraphCtes,
         |$clusterCteSql
         |SELECT node, component FROM comp ORDER BY node""".stripMargin,
    // incremental == batch: the oracle is the dedup_clusters recompute
    // over the UNION corpus, verbatim — the Spark side arrives at the
    // same rows through the persisted-state probe + contracted merge
    "dedup_incremental_neardup" ->
      s"""WITH RECURSIVE $neardupGraphCtes,
         |$clusterCteSql
         |SELECT node, component FROM comp ORDER BY node""".stripMargin,
    // two-generation chain == batch: the same union-corpus recompute —
    // the Spark side carries labels + banded/bucket index + shingle
    // store forward across TWO ingests (src0 then src1) and must land
    // on identical rows
    "dedup_incremental_2batch" ->
      s"""WITH RECURSIVE $neardupGraphCtes,
         |$clusterCteSql
         |SELECT node, component FROM comp ORDER BY node""".stripMargin,
    // retract == recompute: the WHOLE chain from scratch over the
    // post-delete corpus (the shingle CTE parameterized by relation) —
    // the Spark side arrives there by re-closing only the affected
    // components of the persisted state
    "dedup_retract_clusters" ->
      s"""WITH RECURSIVE remaining AS (
         |  SELECT * FROM documents WHERE source <> 'src10'),
         |${shingleCteOver("remaining")},
         |$neardupEdgesCteSql,
         |$clusterCteSql
         |SELECT node, component FROM comp ORDER BY node""".stripMargin,
    // prior state = the union graph restricted to existing-existing
    // edges, closed with the renamed cluster CTEs; delta = per updated
    // component, membership accounting vs the prior closure
    "dedup_cluster_delta" ->
      s"""WITH RECURSIVE $neardupGraphCtes,
         |$clusterCteSql,
         |edges_prior AS (
         |  SELECT e.src, e.dst FROM edges e
         |  JOIN documents da ON da.doc_id = e.src
         |  JOIN documents db ON db.doc_id = e.dst
         |  WHERE da.source <> 'src0' AND db.source <> 'src0'),
         |${clusterCtesNamed("edges_prior", "_p")},
         |joined AS (
         |  SELECT c.node, c.component, p.component AS old_c
         |  FROM comp c LEFT JOIN comp_p p ON p.node = c.node)
         |SELECT component,
         |       COUNT(*) AS n_docs,
         |       COUNT(old_c) AS n_docs_prior,
         |       COUNT(*) - COUNT(old_c) AS n_docs_new,
         |       COUNT(DISTINCT old_c) AS n_prior_groups,
         |       MAX(CASE WHEN old_c IS NOT NULL AND old_c <> component
         |                THEN 1 ELSE 0 END) AS relabeled
         |FROM joined
         |GROUP BY component
         |HAVING COUNT(*) - COUNT(old_c) > 0
         |    OR MAX(CASE WHEN old_c IS NOT NULL AND old_c <> component
         |            THEN 1 ELSE 0 END) = 1
         |ORDER BY component""".stripMargin,
    // the cluster CTE chain verbatim, then GROUP-level split assignment
    // (md5 parity pair on the group id): near-dups can never straddle
    // the train/eval boundary
    "dedup_leakage_split" ->
      s"""WITH RECURSIVE $leakageSplitCtes
         |SELECT doc_id, group_id, split FROM sp ORDER BY doc_id""".stripMargin,
    // the split CTEs + the winnowing-candidates chain verbatim, joined
    // ACROSS the boundary: partial-overlap contamination the
    // cluster-aware split cannot pin to one side
    "decontam_eval_overlap" ->
      s"""WITH RECURSIVE $leakageSplitCtes,
         |wt AS (
         |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS wd FROM documents),
         |wh AS (
         |  SELECT doc_id,
         |         CASE WHEN len(wd) >= 3
         |              THEN list_transform(range(len(wd)-2),
         |                     i -> md5(array_to_string(wd[i+1:i+3], ' ')))
         |              ELSE [] END AS hs
         |  FROM wt),
         |wfp AS (
         |  SELECT doc_id,
         |         CASE WHEN len(hs) >= 4
         |              THEN list_distinct(list_transform(range(len(hs)-3),
         |                     j -> list_min(hs[j+1:j+4])))
         |              WHEN len(hs) > 0 THEN [list_min(hs)]
         |              ELSE [] END AS fps
         |  FROM wh),
         |we AS (SELECT doc_id, unnest(fps) AS fp FROM wfp),
         |wcounts AS (SELECT fp, COUNT(*) AS n FROM we GROUP BY fp),
         |welig AS (SELECT we.* FROM we JOIN wcounts c USING (fp)
         |         WHERE c.n BETWEEN 2 AND 100),
         |agg AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared_fps
         |  FROM welig a JOIN welig b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id HAVING COUNT(*) >= 2)
         |SELECT CASE WHEN sa.split = 'train' THEN agg.id_a ELSE agg.id_b END AS train_doc,
         |       CASE WHEN sa.split = 'eval' THEN agg.id_a ELSE agg.id_b END AS eval_doc,
         |       agg.n_shared_fps
         |FROM agg
         |JOIN sp sa ON sa.doc_id = agg.id_a
         |JOIN sp sb ON sb.doc_id = agg.id_b
         |WHERE sa.split <> sb.split
         |ORDER BY train_doc, eval_doc""".stripMargin,
    // the dedup_clusters CTE chain verbatim + the shared quality
    // formula; survivor = row_number 1 under (q DESC, node ASC)
    "dedup_best_survivor" ->
      s"""WITH RECURSIVE $neardupGraphCtes,
         |$clusterCteSql,
         |qual AS (
         |  SELECT doc_id,
         |         least(CAST(len(w) AS DOUBLE) / 50.0, 1.0) * 0.5
         |         + (CAST(len(list_filter(w, t -> t IN ('the','a','and','of'))) AS DOUBLE)
         |            / CAST(len(w) AS DOUBLE)) * 0.3
         |         + least((CAST(length(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS DOUBLE)
         |                  / CAST(len(w) AS DOUBLE)) / 10.0, 1.0) * 0.2 AS q
         |  FROM (SELECT doc_id, text,
         |          string_split_regex(trim(text), '\\s+') AS w FROM documents)),
         |r AS (
         |  SELECT c.component, c.node, qual.q,
         |         ROW_NUMBER() OVER (PARTITION BY c.component
         |           ORDER BY qual.q DESC, c.node ASC) AS rn
         |  FROM comp c JOIN qual ON qual.doc_id = c.node)
         |SELECT component, COUNT(*) AS n_members,
         |       CAST(MAX(CASE WHEN rn = 1 THEN node END) AS BIGINT) AS survivor_id,
         |       round(MAX(CASE WHEN rn = 1 THEN q END), 6) AS survivor_q
         |FROM r GROUP BY component ORDER BY component""".stripMargin,
    "corpus_pipeline_full" ->
      s"""WITH tok AS (
         |  SELECT doc_id, text, string_split_regex(trim(text), '\\s+') AS w
         |  FROM documents),
         |scored AS (
         |  SELECT doc_id, text, w,
         |         least(CAST(len(w) AS DOUBLE) / 50.0, 1.0) * 0.5
         |         + (CAST(len(list_filter(w, t -> t IN ('the','a','and','of'))) AS DOUBLE)
         |            / CAST(len(w) AS DOUBLE)) * 0.3
         |         + least((CAST(length(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS DOUBLE)
         |                  / CAST(len(w) AS DOUBLE)) / 10.0, 1.0) * 0.2 AS q,
         |         $langScoreCols
         |  FROM tok),
         |filtered AS (
         |  SELECT doc_id, text, w FROM scored
         |  WHERE q >= 0.5
         |    AND CASE WHEN c_en > 0 AND c_en = greatest(c_en, c_de, c_es, c_fr) THEN 'en'
         |             WHEN c_de > 0 AND c_de = greatest(c_en, c_de, c_es, c_fr) THEN 'de'
         |             WHEN c_es > 0 AND c_es = greatest(c_en, c_de, c_es, c_fr) THEN 'es'
         |             WHEN c_fr > 0 AND c_fr = greatest(c_en, c_de, c_es, c_fr) THEN 'fr'
         |             ELSE 'und' END = 'en'),
         |survivors AS (
         |  SELECT f.doc_id, f.text, f.w FROM filtered f
         |  JOIN (SELECT MIN(doc_id) AS doc_id
         |        FROM filtered
         |        GROUP BY md5(regexp_replace(trim(text), '\\s+', ' ', 'g'))) s
         |    USING (doc_id)),
         |sh AS (
         |  SELECT doc_id,
         |         list_distinct(list_transform(range(len(w)-2),
         |           i -> array_to_string(w[i+1:i+3], ' '))) AS s
         |  FROM survivors WHERE len(w) >= 3),
         |t AS (SELECT doc_id, unnest(s) AS sng FROM sh),
         |sig AS (
         |  SELECT t.doc_id, h.i, MIN(md5(CAST(h.i AS VARCHAR) || '|' || t.sng)) AS mh
         |  FROM t CROSS JOIN (SELECT unnest(range(16)) AS i) h
         |  GROUP BY t.doc_id, h.i),
         |band AS (
         |  SELECT doc_id, i // 4 AS b, md5(string_agg(mh, ',' ORDER BY i)) AS bh
         |  FROM sig GROUP BY doc_id, i // 4),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM band x JOIN band y ON x.b = y.b AND x.bh = y.bh
         |  WHERE x.doc_id < y.doc_id),
         |losers AS (
         |  SELECT DISTINCT c.id_b AS doc_id
         |  FROM cand c JOIN sh a ON a.doc_id = c.id_a JOIN sh b ON b.doc_id = c.id_b
         |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
         |          / len(list_distinct(a.s || b.s)) >= 0.8),
         |kept AS (
         |  SELECT sv.* FROM survivors sv
         |  WHERE sv.doc_id NOT IN (SELECT doc_id FROM losers))
         |SELECT doc_id,
         |       CAST(len(range(0, greatest(len(w), 1), 40)) AS INT) AS n_chunks,
         |       CAST(len(w) AS INT) AS n_tokens
         |FROM kept ORDER BY doc_id""".stripMargin,
    // Signature reassembly: token hash = first 16 md5 hex chars as an
    // unsigned 64-bit value; bit j lives in hex char 16 - j//4 (1-based,
    // big-endian) at within-nibble position j%4. Majority vote per bit,
    // then assemble the signed BIGINT (bit 63 = Long.MinValue). With
    // maxHamming 3 < 4 bands the Spark banding is exact, so the
    // brute-force pair filter here is the same set.
    "dedup_simhash_md5_pairs" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
        |h AS (
        |  SELECT doc_id, list_transform(w, tk -> substr(md5(tk), 1, 16)) AS hs
        |  FROM tok),
        |bits AS (
        |  SELECT doc_id, list_transform(range(64), j ->
        |    CASE WHEN 2 * len(list_filter(hs, hx ->
        |      ((strpos('0123456789abcdef', hx[CAST(16 - j // 4 AS INT)]) - 1)
        |        // (1 << CAST(j % 4 AS INT))) % 2 = 1
        |    )) > len(hs) THEN 1 ELSE 0 END) AS b
        |  FROM h),
        |s AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN b[64] = 1 THEN -9223372036854775808 ELSE 0 END
        |     + list_aggregate(list_transform(range(63),
        |         j -> CAST(b[CAST(j+1 AS INT)] AS BIGINT) * (CAST(1 AS BIGINT) << CAST(j AS INT))),
        |       'sum') AS BIGINT) AS sig
        |  FROM bits)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       bit_count(xor(a.sig, b.sig)) AS hamming
        |FROM s a JOIN s b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sig, b.sig)) <= 3
        |ORDER BY id_a, id_b""".stripMargin
  )
}
