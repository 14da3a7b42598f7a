package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-join salting: when one join key carries a disproportionate share
  * of the big side (a hot user, an empty-string key), a plain shuffled
  * join sends that key's entire volume to one task. Salting splits the
  * hot key across `salts` tasks: the big side gets a random-but-
  * deterministic salt per row; the small side is replicated once per
  * salt value. Complements AQE's skew-split (which only kicks in above
  * partition-size thresholds and can't split a single key).
  */
object Salting {

  /** What the advisor measured and what it prescribes: the hottest
    * key's estimated row count/share of `totalRows`, and the salt
    * factor that stops that key dominating one of the target shuffle
    * partitions (1 = salting unnecessary). */
  case class SkewAdvice(
      totalRows: Long, hottestKeyRows: Long, maxShare: Double, salts: Int)

  /** Measure key skew with SKETCHES and prescribe a salt factor
    * (VERDICT r8 ask #7 — diag_key_skew's machinery made reusable).
    *
    * Two sketch passes, both with bounded state at any corpus size —
    * the 100 TB substitute for the exact per-key groupBy the
    * `diag_key_skew` diagnostic query runs: a Count-Min sketch over the
    * key (map-combined, eps·confidence-sized state) estimates per-key
    * counts, and a single-pass `freqItems` scan (Karp et al. heavy
    * hitters, support-bounded state) nominates the candidate hot keys
    * the CMS is probed with — CMS alone cannot enumerate keys, and
    * freqItems alone cannot count. The prescription mirrors
    * diag_key_skew's `suggested_salt`: ceil(max_share × target
    * partitions), i.e. how many ways the hottest key must split so its
    * volume stops dominating a single shuffle task. CMS overestimates
    * (never under), so the advice errs toward a salt too high — extra
    * small-side replication — never toward an unsplit hot key. */
  def advise(df: DataFrame, key: String, shufflePartitions: Int,
      support: Double = 0.01, eps: Double = 1e-4, confidence: Double = 0.99,
      seed: Int = 42): SkewAdvice = {
    val row = df.agg(
      expr(s"count_min_sketch(`$key`, CAST($eps AS DOUBLE), " +
        s"CAST($confidence AS DOUBLE), $seed)").as("cms"),
      count(lit(1)).as("n")).head()
    val n = row.getLong(1)
    if (n == 0L) return SkewAdvice(0L, 0L, 0.0, 1)
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(row.getAs[Array[Byte]](0)))
    // a null-heavy key column is canonical skew input, and freqItems can
    // nominate null as a heavy hitter — but the CMS never counted nulls
    // (SQL aggregates skip them) and estimateCount(null) throws. Drop
    // null candidates: for equi-joins null keys never shuffle (Catalyst
    // inserts IsNotNull on join keys), and the payload top-k path
    // filters null VALUES; callers grouping by a null-heavy key should
    // pre-coalesce it into a sentinel they want measured (r16 review).
    val candidates = df.stat.freqItems(Array(key), support)
      .head().getSeq[Any](0).filter(_ != null)
    val hot =
      if (candidates.isEmpty) 0L
      else candidates.iterator.map(c => cms.estimateCount(c)).max
    val share = hot.toDouble / n
    val salts = math.max(1, math.ceil(share * shufflePartitions).toInt)
    SkewAdvice(n, hot, share, salts)
  }

  /** Per-key top-k smallest values, as exploded (key, rank, value)
    * rows, via a TWO-LEVEL SALTED aggregate — the payload-aggregation
    * skew mitigation the probe receipts (`SCALE_r13_skew.json`,
    * `agg_payload_*` arms). A direct
    * `collect_list`-then-sort-then-slice is a payload-preserving
    * aggregate: its partials shrink ROW counts but not DATA, so a hot
    * key's entire payload still lands on one reduce task (measured
    * byte share ≈ the hot share at flat row share). Here level 1
    * groups by (key, row-hash salt) and caps its partial at k, so the
    * hot key's payload spreads across `salts` tasks and level 2 merges
    * ≤ salts·k values per key. Output-EQUAL to the direct form: each
    * salt bucket's min-k is a superset of the bucket's contribution to
    * the global min-k (min-k is a semilattice), so the capped merge
    * loses nothing. At 100 TB this is how "top examples per user/
    * domain" runs without a single-task hot key or a full per-key
    * window sort. */
  def topKPerKey(df: DataFrame, keyCol: String, valueCol: String, k: Int,
      salts: Int): DataFrame =
    explodeRanked(
      topKPartials(df, keyCol, valueCol, k, salts)
        .groupBy(col(keyCol))
        .agg(slice(sort_array(flatten(collect_list(col("__part")))), 1, k)
          .as("__topk")),
      keyCol, valueCol)

  /** Level 1 of [[topKPerKey]] in isolation: the k-capped per-(key,
    * salt) partials the level-2 merge consumes — one row per touched
    * (key, salt) with a `__part` array of ≤ k values. Exposed so scale
    * probes can MEASURE the merge-input bound (≤ salts rows and
    * ≤ salts·k values per key) rather than assert it. */
  def topKPartials(df: DataFrame, keyCol: String, valueCol: String, k: Int,
      salts: Int): DataFrame = {
    validateTopK(df, keyCol, valueCol, k)
    require(salts >= 1, s"salts must be >= 1, got $salts")
    // Null values are EXCLUDED from ranking, explicitly: collect_list
    // would silently skip them anyway, which diverges from a windowed
    // row_number (engines rank nulls, each with its own null order).
    // Filtering makes the contract engine-neutral — mirror it in any
    // SQL oracle with `WHERE valueCol IS NOT NULL`.
    //
    // The salt hashes the WHOLE ROW (same rationale as [[saltedJoin]]):
    // hashing only the value would send every duplicate of a value to
    // one salt bucket, re-concentrating a hot key whose values are
    // low-cardinality (status codes, defaulted scores) — the exact
    // payload this operator exists to spread. Min-k over a multiset is
    // a semilattice under ANY partition, so the salt choice never
    // affects the output.
    val rowSalt = pmod(
      xxhash64(struct(df.columns.toIndexedSeq.map(col): _*)), lit(salts))
    df.filter(col(valueCol).isNotNull)
      .groupBy(col(keyCol), rowSalt.as("__salt"))
      .agg(slice(sort_array(collect_list(col(valueCol))), 1, k).as("__part"))
  }

  /** Single-level direct form of [[topKPerKey]] (no salt split) — same
    * output contract (nulls excluded, ascending values, rank 1..k).
    * NOT capped map-side: the `slice` applies AFTER the aggregate
    * merges, so the collect_list partials are payload-preserving — a
    * key's full value payload buffers on its one reduce task. That is
    * exactly why this form is gated behind [[advise]]: it is safe (and
    * one exchange cheaper) precisely when the sketch pass confirms no
    * key is hot; with a hot key, use the salted [[topKPerKey]], whose
    * level-1 cap is what actually bounds the buffers. */
  def directTopKPerKey(
      df: DataFrame, keyCol: String, valueCol: String, k: Int): DataFrame = {
    validateTopK(df, keyCol, valueCol, k)
    explodeRanked(
      df.filter(col(valueCol).isNotNull)
        .groupBy(col(keyCol))
        .agg(slice(sort_array(collect_list(col(valueCol))), 1, k).as("__topk")),
      keyCol, valueCol)
  }

  /** [[topKPerKey]] with the salt factor chosen by [[advise]] from the
    * observed key histogram — the prescriptive advise→execute path for
    * payload aggregates, so a deployment never hand-picks salts for
    * "top examples per key".
    * advice = 1 short-circuits to [[directTopKPerKey]]; output-equal
    * either way (min-k is a semilattice under any partition). Like
    * `advise`, this runs two sketch jobs at construction time. */
  def adaptiveTopKPerKey(df: DataFrame, keyCol: String, valueCol: String,
      k: Int, shufflePartitions: Int): DataFrame = {
    val a = advise(df, keyCol, shufflePartitions)
    if (a.salts <= 1) directTopKPerKey(df, keyCol, valueCol, k)
    else topKPerKey(df, keyCol, valueCol, k, a.salts)
  }

  private def validateTopK(
      df: DataFrame, keyCol: String, valueCol: String, k: Int): Unit = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(!df.columns.exists(Set("__salt", "__part", "__topk", "__pos").contains),
      "input must not contain the helper columns __salt, __part, __topk, __pos")
    require(keyCol != "rank" && valueCol != "rank" && keyCol != valueCol,
      "keyCol/valueCol must be distinct and neither may be named 'rank' " +
        "(the output rank column would be ambiguous)")
  }

  private def explodeRanked(
      grouped: DataFrame, keyCol: String, valueCol: String): DataFrame =
    grouped
      .select(col(keyCol), posexplode(col("__topk")).as(Seq("__pos", valueCol)))
      .select(col(keyCol), (col("__pos") + 1).cast("long").as("rank"), col(valueCol))

  /** Equi-join `big ⋈ small` on `key` with the big side salted `salts`
    * ways. Semantics identical to `big.join(small, key)`; cost is a
    * `salts`× replication of the (small) build side. */
  def saltedJoin(
      big: DataFrame, small: DataFrame, key: String, salts: Int,
      joinType: String = "inner"): DataFrame = {
    // Replicating the small side is only sound when unmatched SMALL rows
    // are dropped: a right/full join would emit each unmatched small row
    // once per salt.
    require(Set("inner", "left", "left_outer", "leftouter", "left_semi", "leftsemi")
      .contains(joinType.toLowerCase),
      s"saltedJoin supports inner/left joins only, got $joinType")
    // Deterministic spread: hash of the whole row modulo salts (row
    // identity, not the key — the point is to split a single hot key).
    val saltedBig = big.withColumn("__salt",
      pmod(xxhash64(struct(big.columns.toIndexedSeq.map(col): _*)), lit(salts)).cast("int"))
    val explodedSmall = small.withColumn("__salt",
      explode(array((0 until salts).map(lit): _*)))
    saltedBig
      .join(explodedSmall, Seq(key, "__salt"), joinType)
      .drop("__salt")
  }
}
