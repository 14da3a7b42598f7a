package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al., "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011) — the vector-compression
  * companion to the IVF coarse quantizer in [[Ivf]]: a d-dim vector is
  * split into `m` sub-blocks and each block is replaced by the id of
  * its nearest sub-codebook centroid, so a 64-dim float vector (256 B)
  * becomes m=8 4-bit codes (4 B, a 64× shrink) while
  * asymmetric-distance search (ADC) ranks the corpus from codes alone.
  *
  * Engine-neutral by construction, following the [[Ivf]] conventions:
  *  - sub-codebooks start from a seeded sample (the k vectors with the
  *    lexicographically smallest md5(id) donate their sub-vectors) and
  *    are refined by `iters` true Lloyd rounds whose centroid means
  *    are EXACT — components are integer-quantized (round(x·1e6) as
  *    long), summed exactly, and re-quantized once per round
  *    (round(sum/n) as long) — so a SQL oracle rebuilds bit-identical
  *    codebooks;
  *  - every distance is an exact integer sum over quantized
  *    components — no cross-row float accumulation anywhere, so ADC
  *    sums (a per-candidate SUM over m looked-up rows) cannot drift
  *    with aggregation order.
  *
  * Scale shape: the codebook is m·k rows (128 here) and broadcast;
  * encoding is one scan with a per-(vector, block) argmin against it;
  * ADC search broadcasts the (query, block, code) lookup table onto
  * the codes table and never moves a raw vector. The exact rerank
  * then touches only the per-query shortlist — at 100 TB the codes
  * table is ~1/64th the corpus, ADC is the only full pass, and the
  * rerank reads a constant number of raw vectors per query. */
object Pq {

  /** Integer-quantized sub-vector: components `start..start+len-1`
    * (0-based) of `vec`, each round(x·1e6) as long. */
  private def qslice(vec: Column, start: Int, len: Int): Column =
    transform(slice(vec, start + 1, len),
      x => round(x.cast("double") * 1e6).cast("long"))

  /** Exact integer squared L2 between two quantized vectors. */
  private def qd2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, v) => acc + v)

  /** Per-vector per-block quantized sub-vectors: (id, blk, qv). */
  private def subVectors(emb: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int): DataFrame = {
    val subDim = dim / m
    emb.select(col(idCol).as("id"),
        posexplode(array((0 until m).map(b =>
          qslice(col(vecCol), b * subDim, subDim)): _*)).as(Seq("blk", "qv")))
      .select(col("id"), col("blk").cast("int").as("blk"), col("qv"))
  }

  /** Argmin code per (id, blk) against a broadcast codebook; ties to
    * the lowest code. Carries qv and the winning qd2. */
  private def assign(vb: DataFrame, cb: DataFrame): DataFrame = {
    val rank = Window.partitionBy(col("id"), col("blk"))
      .orderBy(col("qd2"), col("code"))
    vb.join(broadcast(cb), Seq("blk"))
      .withColumn("qd2", qd2(col("qv"), col("qc")))
      .withColumn("r", row_number().over(rank)).filter(col("r") === 1)
      .drop("qc", "r")
  }

  /** The m·k-row sub-codebook (blk, code, qc): seeded from the k
    * corpus vectors with the smallest md5(id), then `iters` exact
    * Lloyd rounds (assign → integer-exact mean → re-quantize; empty
    * codes keep their previous centroid). */
  def codebook(emb: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, k: Int, iters: Int = 1): DataFrame = {
    require(dim % m == 0, s"dim $dim must split into $m equal blocks")
    val subDim = dim / m
    val order = Window.orderBy(col("h"), col("sid"))
    val seeds = emb
      .select(col(idCol).as("sid"), col(vecCol).as("v"),
        md5(col(idCol).cast("string")).as("h"))
      .orderBy(col("h"), col("sid")).limit(k)
      .withColumn("code", (row_number().over(order) - 1).cast("int"))
    var cb = seeds.select(col("code"),
        posexplode(array((0 until m).map(b =>
          qslice(col("v"), b * subDim, subDim)): _*)).as(Seq("blk", "qc")))
      .select(col("blk").cast("int").as("blk"), col("code"), col("qc"))
    val vb = subVectors(emb, idCol, vecCol, dim, m)
    // handle-exact checkpoint hygiene ([[LocalCheckpoints]]): free each
    // round's superseded codebook checkpoint; the final (m·k rows) one
    // stays pinned for the returned frame
    var cbRdds = Seq.empty[org.apache.spark.rdd.RDD[_]]
    for (_ <- 1 to iters) {
      val means = assign(vb, cb)
        .select(col("blk"), col("code"), posexplode(col("qv")).as(Seq("pos", "qx")))
        .groupBy(col("blk"), col("code"), col("pos"))
        .agg(sum(col("qx")).as("s"), count(lit(1)).as("n"))
        .groupBy(col("blk"), col("code"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("s"), col("n")))),
          // exactness envelope (r15): s is an exact long sum, and the
          // double division stays bit-deterministic while |s| < 2^53 —
          // i.e. up to ~9e8 rows per (blk, code) at |x| <= 10; beyond
          // that the "integer-exact mean" claim would need decimal math
          t => round(t.getField("s").cast("double") / t.getField("n")).cast("long"))
          .as("newqc"))
      val (ck, ckRdds) = LocalCheckpoints.tracked(
        cb.join(means, Seq("blk", "code"), "left")
          .select(col("blk"), col("code"),
            coalesce(col("newqc"), col("qc")).as("qc")))
      LocalCheckpoints.free(cbRdds) // superseded by the new round
      cb = ck
      cbRdds = ckRdds
    }
    cb
  }

  /** Codes table: one row per vector — (id, [carry...], codes array of
    * m ints, qerr = Σ per-block quantization d2). One scan over the
    * corpus; `carry` columns (constant per id, e.g. the IVF cell) ride
    * through so no corpus-corpus join is needed to re-attach them. */
  def encode(emb: DataFrame, cb: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, carry: Seq[String] = Nil): DataFrame = {
    // validated HERE too, not only in codebook (r15 review): with a
    // prebuilt cb an un-split dim silently truncated — dim=64, m=7 gave
    // subDim=9 and dimension 63 never participated in any distance.
    // PRECONDITION (also r15): ids are unique — duplicate ids would
    // interleave sub-vectors across rows into a chimeric code word.
    require(dim % m == 0, s"dim $dim must split into $m equal blocks")
    val subDim = dim / m
    val vb = emb.select((col(idCol).as("id") +: carry.map(col)) :+
        posexplode(array((0 until m).map(b =>
          qslice(col(vecCol), b * subDim, subDim)): _*)).as(Seq("blk", "qv")): _*)
      .withColumn("blk", col("blk").cast("int"))
    assign(vb, cb)
      .groupBy(col("id") +: carry.map(col): _*)
      .agg(
        transform(array_sort(collect_list(struct(col("blk"), col("code")))),
          s => s.getField("code")).as("codes"),
        sum(col("qd2")).as("qerr"))
  }

  /** ADC shortlist + exact rerank over a prebuilt codebook and an
    * ALREADY-ENCODED codes table (the [[encode]] output shape): each
    * query's (blk, code) → sub-distance lookup table joins the codes
    * table (raw vectors never move); the `shortlist` best ADC candidates
    * then rerank by the exact integer d2 over the full vector. Codebook
    * AND codes are built once at ingest, so a query wave pays only the
    * LUT + shortlist + rerank.
    *
    * Shared-id-space assumption (also [[ivfPqSearchWith]]): candidates
    * where `neighbor_id == query_id` are unconditionally dropped,
    * treating queries as drawn from the corpus id space (self-match
    * exclusion — the fixture/benchmark convention). With an EXTERNAL
    * query table whose ids can collide with corpus ids, disjoint the id
    * spaces first (e.g. negate or offset query ids) or a true neighbor
    * at a colliding id is silently excluded. */
  def adcTopKWithCodes(cb: DataFrame, encoded: DataFrame, emb: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String, dim: Int, m: Int,
      topK: Int, shortlist: Int): DataFrame = {
    require(dim % m == 0, s"dim $dim must split into $m equal blocks")
    val codes = encoded
      .select(col("id"), posexplode(col("codes")).as(Seq("blk", "code")))
      .select(col("id"), col("blk").cast("int").as("blk"), col("code"))
    // the codebook is a fixed m·k-row model — always broadcast; the
    // query-derived sides (lut, short, qfull below) scale with the
    // query batch, so they carry NO forced hint: a fixed production
    // batch broadcasts via size stats / AQE, while a query set that
    // grows with the corpus (the registered %-splits) degrades to a
    // shuffle join instead of an unbounded forced broadcast
    val lut = subVectors(queries, idCol, vecCol, dim, m)
      .withColumnRenamed("id", "query_id")
      .join(broadcast(cb), Seq("blk"))
      .select(col("query_id"), col("blk"), col("code"),
        qd2(col("qv"), col("qc")).as("qd2"))
    // shortlist via the map-side TopKByScore aggregate on NEGATED
    // distance ((-adc desc, id asc) == (adc asc, id asc), the window's
    // exact order): raw PQ has no cell pruning, so the ADC stage scores
    // the whole corpus per query and a row_number window would funnel
    // every |corpus| candidate of a query into ONE task to sort —
    // partial top-k buffers collapse that map-side (the Ivf/Similarity
    // rerank pattern)
    val short = codes.join(lut, Seq("blk", "code"))
      .groupBy(col("query_id"), col("id").as("neighbor_id"))
      .agg(sum(col("qd2")).as("adc"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .groupBy(col("query_id"))
      .agg(graft.expressions.TopKByScore.topk(
        // long->double is EXACT below 2^53. Envelope (r15 corrected):
        // per-dim DIFFERENCES reach 2x the quantized magnitude, so adc
        // <= dim*(2*1e6*|v|)^2 — exact for |v| <= 5 at dim 64 (6.4e15);
        // at |v| ~ 10 the cast can collapse 1-3-apart adc values and the
        // shortlist boundary tiebreaks by id instead of exact adc.
        // Unit-scale embeddings (every registered corpus) sit far below.
        -col("adc").cast("double"), col("neighbor_id"), shortlist).as("top"))
      .select(col("query_id"), explode(col("top.id")).as("neighbor_id"))
    val qfull = quantized(queries, idCol, vecCol).withColumnsRenamed(
      Map("id" -> "query_id", "qfull" -> "qq"))
    val nfull = quantized(emb, idCol, vecCol).withColumnsRenamed(
      Map("id" -> "neighbor_id", "qfull" -> "qn"))
    val exactRank = Window.partitionBy(col("query_id"))
      .orderBy(col("qd2"), col("neighbor_id"))
    short
      .join(nfull, Seq("neighbor_id"))
      .join(qfull, Seq("query_id"))
      .withColumn("qd2", qd2(col("qq"), col("qn")))
      .withColumn("rank", row_number().over(exactRank))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("qd2"))
  }

  /** (id, qfull): the full integer-quantized vector. */
  private def quantized(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      transform(col(vecCol), x => round(x.cast("double") * 1e6).cast("long"))
        .as("qfull"))

  /** Shared squared-L2 fold — single-homed in
    * [[graft.functions.VectorFunctions.dist2]] (r15 review). */
  private def dist2(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.dist2(a, b)

  /** Residual vector v − centroid(cell) as doubles. */
  private def residual(vec: Column, centroid: Column): Column =
    zip_with(vec, centroid, (x, c) => x.cast("double") - c)

  /** Residual vectors (id, cell, rvec) for an assigned corpus — the
    * IVF-PQ training/encoding input. */
  def residuals(cents: DataFrame, assigned: DataFrame,
      idCol: String, vecCol: String): DataFrame =
    assigned.join(broadcast(cents), Seq("cell"))
      .select(col(idCol), col("cell"),
        residual(col(vecCol), col("centroid")).as("rvec"))

  /** The exploded codes table (id, cell, blk, code) for `res` under
    * `cb` — the searchable half of the index. */
  def explodedCodes(res: DataFrame, cb: DataFrame, idCol: String,
      dim: Int, m: Int): DataFrame =
    encode(res, cb, idCol, "rvec", dim, m, carry = Seq("cell"))
      .select(col("id"), col("cell"), posexplode(col("codes")).as(Seq("blk", "code")))
      .select(col("id"), col("cell"), col("blk").cast("int").as("blk"), col("code"))

  /** IVF-PQ (the IVFADC layout of Jégou et al. §IV): the coarse
    * quantizer's cells prune the corpus, and within a cell vectors are
    * PQ-encoded as RESIDUALS from their centroid — the residual
    * codebook spends its 4 bits on the within-cell spread instead of
    * the corpus spread, which is why real systems encode residuals.
    * Search ([[ivfPqSearchWith]]) probes the `nProbe` nearest cells,
    * builds a per-(query, probed cell) residual lookup table, ADC-ranks
    * the probed cells' codes, and exact-reranks the shortlist.
    *
    * Scale shape: everything the raw-PQ path broadcasts stays
    * broadcast (codebook m·k rows; LUT |Q|·nProbe·m·k rows); the cell
    * column rides through encoding (`carry`), so the codes table is
    * born cell-partitioned — exactly how the persisted index would be
    * laid out — and candidate generation touches only probed
    * partitions. No corpus-corpus join anywhere.
    *
    * Builds over the WHOLE assigned corpus: residual sub-codebook plus
    * the exploded codes table (id, cell, blk, code). Build once
    * (memoize/persist), probe many times — query-set exclusions belong
    * at SEARCH time ([[ivfPqSearchWith]]'s `corpusPred`), exactly like
    * the shared lexical posting index. */
  def ivfPqIndex(cents: DataFrame, assigned: DataFrame,
      idCol: String, vecCol: String, dim: Int, m: Int, k: Int,
      iters: Int = 1): (DataFrame, DataFrame) = {
    val res = residuals(cents, assigned, idCol, vecCol)
    val cb = codebook(res, idCol, "rvec", dim, m, k, iters)
    (cb, explodedCodes(res, cb, idCol, dim, m))
  }

  /** Search a prebuilt IVF-PQ index. `corpusPred` (over `neighbor_id`)
    * restricts the searchable corpus at probe time — candidates
    * outside it never enter the shortlist; `rerankCorpus` supplies the
    * raw vectors for the exact rerank (pass the same restriction). */
  def ivfPqSearchWith(cents: DataFrame, cb: DataFrame, codes: DataFrame,
      rerankCorpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, dim: Int, m: Int,
      topK: Int, shortlist: Int, nProbe: Int,
      corpusPred: Column = lit(true)): DataFrame = {
    val subDim = dim / m
    val probeRank = Window.partitionBy(col("query_id"))
      .orderBy(col("d2"), col("cell"))
    val probed = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
      .crossJoin(broadcast(cents))
      .withColumn("d2", dist2(col("qvec"), col("centroid")))
      .withColumn("r", row_number().over(probeRank)).filter(col("r") <= nProbe)
      .select(col("query_id"), col("cell"),
        residual(col("qvec"), col("centroid")).as("rvec"))
    val lut = probed
      .select(col("query_id"), col("cell"),
        posexplode(array((0 until m).map(b =>
          qslice(col("rvec"), b * subDim, subDim)): _*)).as(Seq("blk", "qv")))
      .select(col("query_id"), col("cell"), col("blk").cast("int").as("blk"), col("qv"))
      .join(broadcast(cb), Seq("blk"))
      .select(col("query_id"), col("cell"), col("blk"), col("code"),
        qd2(col("qv"), col("qc")).as("qd2"))
    // query-derived sides (lut/short/qfull) carry NO forced broadcast
    // hint — see adcTopKWith: a fixed production batch broadcasts via
    // size stats / AQE; a corpus-growing query split (the registered
    // %-splits) degrades to a shuffle join instead of an unbounded
    // forced broadcast. Model-sized sides (cents, cb) stay hinted.
    // Shortlist via map-side TopKByScore on -adc (see adcTopKWith):
    // nProbe bounds the candidates here, but a hot cell still lands
    // a query's whole candidate set on one window task without it.
    val short = codes.join(lut, Seq("cell", "blk", "code"))
      .groupBy(col("query_id"), col("id").as("neighbor_id"))
      .agg(sum(col("qd2")).as("adc"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .filter(corpusPred)
      .groupBy(col("query_id"))
      .agg(graft.expressions.TopKByScore.topk(
        // long->double EXACT below 2^53 — see adcTopKWithCodes' corrected
        // envelope note: exact for |v| <= 5 at dim 64; unit-scale
        // residuals sit far below
        -col("adc").cast("double"), col("neighbor_id"), shortlist).as("top"))
      .select(col("query_id"), explode(col("top.id")).as("neighbor_id"))
    val qfull = quantized(queries, idCol, vecCol).withColumnsRenamed(
      Map("id" -> "query_id", "qfull" -> "qq"))
    val nfull = quantized(rerankCorpus, idCol, vecCol).withColumnsRenamed(
      Map("id" -> "neighbor_id", "qfull" -> "qn"))
    val exactRank = Window.partitionBy(col("query_id"))
      .orderBy(col("qd2"), col("neighbor_id"))
    short
      .join(nfull, Seq("neighbor_id"))
      .join(qfull, Seq("query_id"))
      .withColumn("qd2", qd2(col("qq"), col("qn")))
      .withColumn("rank", row_number().over(exactRank))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("qd2"))
  }
}
