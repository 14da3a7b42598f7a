package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** IVF-flat approximate nearest neighbor: the second scale path beside
  * hyperplane LSH (Similarity.lshTopK).
  *
  * Build: a k-means coarse quantizer ([[buildLloydFlat]], md5-seeded
  * init + exact Lloyd rounds) partitions the corpus into nCells
  * inverted lists; each vector stores its cell id.
  *
  * Search: each query ranks centroids by euclidean distance (centroids
  * are tiny — broadcast), probes the nProbe nearest cells, and
  * exact-reranks candidates by cosine through the map-side TopKByScore
  * aggregate — so only k-sized heaps cross the shuffle.
  */
object Ivf {

  /** Shared squared-L2 fold — single-homed in
    * [[graft.functions.VectorFunctions.dist2]] (r15 review). */
  private def dist2(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.dist2(a, b)

  /** Search against prebuilt (centroids, assignments) — the reuse entry
    * point: an index built once (or memoized per session) serves any
    * number of probe calls, mirroring how a persisted 100 TB IVF index
    * is probed without rebuilding. */
  def searchFlat(
      cents: DataFrame, assigned: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nProbe: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))

    // Rank cells per query by (squared) euclidean distance to the centroid.
    val cellRank = Window.partitionBy(col("query_id")).orderBy(col("d2"), col("cell"))
    val probed = q.crossJoin(broadcast(cents))
      .withColumn("d2", dist2(col("qvec"), col("centroid")))
      .withColumn("__r", row_number().over(cellRank))
      .filter(col("__r") <= nProbe)
      .select(col("query_id"), col("qvec"), col("cell"))

    // Candidates = union of probed inverted lists; exact cosine rerank.
    val cands = assigned
      .select(col("cell"), col(idCol).as("neighbor_id"), col(vecCol).as("nvec"))
      .join(probed, Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", round(VectorFunctions.cosine(col("qvec"), col("nvec")), 9))
    cands
      .groupBy(col("query_id"))
      .agg(graft.expressions.TopKByScore.topk(col("sim"), col("neighbor_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("t.id").as("neighbor_id"), col("t.score").as("sim"))
  }

  /** Every vector joins its argmin-d2 cell (ties to the lowest cell
    * id); centroids are tiny and broadcast. PRECONDITION (r15): ids
    * are unique — a duplicate id keeps only one of its vectors in the
    * index (the argmin window collapses them). */
  private def assignTo(corpus: DataFrame, cents: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    val assignRank = Window.partitionBy(col("__id")).orderBy(col("d2"), col("cell"))
    corpus
      .select(col(idCol).as("__id"), col(vecCol).as("__vec"))
      .crossJoin(broadcast(cents))
      .withColumn("d2", dist2(col("__vec"), col("centroid")))
      .withColumn("__r", row_number().over(assignRank))
      .filter(col("__r") === 1)
      .select(col("__id").as(idCol), col("__vec").as(vecCol), col("cell"))
  }

  /** The nCells corpus vectors with the lexicographically smallest
    * md5(id): a seeded, engine-neutral centroid sample. */
  private def seededCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int): DataFrame = {
    val hashed = corpus.select(col(idCol).as("cid"), col(vecCol).as("centroid"),
      md5(col(idCol).cast("string")).as("h"))
    // nCells rows: the single-partition window is over a constant-sized
    // frame (the LIMIT happens first), not the corpus
    hashed.orderBy(col("h"), col("cid")).limit(nCells)
      .withColumn("cell",
        (row_number().over(Window.orderBy(col("h"), col("cid"))) - 1).cast("int"))
      .select(col("cell"), col("centroid"))
  }

  /** Public assignment entry (index-maintenance flows + the
    * stream==batch equivalence spec): every `corpus` vector joins its
    * argmin-d2 cell from `cents`, ties to the lowest cell id. */
  def assignWithCells(cents: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String): DataFrame =
    assignTo(corpus, cents, idCol, vecCol)

  def buildSeededFlat(
      corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int): (DataFrame, DataFrame) = {
    val cents = seededCentroids(corpus, idCol, vecCol, nCells)
    (cents, assignTo(corpus, cents, idCol, vecCol))
  }

  /** TRUE k-means (Lloyd) with engine-neutral arithmetic: seeded init
    * ([[seededCentroids]]) plus `iters` assign/recompute rounds whose
    * centroid means are EXACT — each component is quantized to an
    * integer (`round(x·1e6)`), summed exactly (order-independent, no
    * float drift), and divided once — so a SQL oracle unrolling the same
    * iterations rebuilds bit-identical centroids and the full k-means
    * IVF path sits under the hash gate. Empty cells keep their previous
    * centroid (both engines). Per-round cost: one broadcast-assign pass
    * + one (cell,dim)-keyed partial agg — no corpus shuffle;
    * `localCheckpoint` keeps the centroid plan flat across rounds. */
  def buildLloydFlat(
      corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int, iters: Int = 2): (DataFrame, DataFrame) = {
    var cents = seededCentroids(corpus, idCol, vecCol, nCells)
      .select(col("cell"),
        transform(col("centroid"), x => x.cast("double")).as("centroid"))
    // handle-exact checkpoint hygiene ([[LocalCheckpoints]]): each
    // round's centroid checkpoint supersedes the previous one, freed
    // once the new round materializes; the final one stays pinned for
    // the returned frames (nCells rows)
    var centsRdds = Seq.empty[org.apache.spark.rdd.RDD[_]]
    for (_ <- 1 to iters) {
      val assigned = assignTo(corpus, cents, idCol, vecCol)
      val means = assigned
        .select(col("cell"), posexplode(col(vecCol)).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(round(col("x").cast("double") * 1e6).cast("long")).as("sq"),
          count(lit(1)).as("n"))
        .groupBy(col("cell"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("sq"), col("n")))),
          s => round(s.getField("sq").cast("double") / 1e6 / s.getField("n"), 9))
          .as("newc"))
      val (ck, ckRdds) = LocalCheckpoints.tracked(
        cents.join(means, Seq("cell"), "left")
          .select(col("cell"), coalesce(col("newc"), col("centroid")).as("centroid")))
      LocalCheckpoints.free(centsRdds) // superseded by the new round
      cents = ck
      centsRdds = ckRdds
    }
    (cents, assignTo(corpus, cents, idCol, vecCol))
  }

  /** One-shot seeded-IVF search (the oracle-backed variant). */
  def seededTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nCells: Int, nProbe: Int): DataFrame = {
    val (cents, assigned) = buildSeededFlat(corpus, idCol, vecCol, nCells)
    searchFlat(cents, assigned, queries, idCol, vecCol, k, nProbe)
  }

  /** PRESCRIPTIVE selection over an IVF probe-plan table (VERDICT r11
    * ask #3 — the recall table consumed, not just published): given the
    * measured (n_probe, recall_micro) rows, pick the SMALLEST probe
    * depth meeting the recall floor — candidates scored grow linearly
    * with nProbe, so the cheapest within-floor depth is the one a
    * deployment should run. Recall is monotone in nProbe (probed cells
    * are a ranked prefix; SimilaritySpec pins the law), so when no
    * depth meets the floor the max depth IS the max recall — that
    * fallback keeps the choice total. Mirrored verbatim by the
    * `sim_ivf_autoprobe` DuckDB oracle. */
  def autoProbe(plan: DataFrame, floorMicro: Long): Int = {
    val rows = plan.collect()
    require(rows.nonEmpty, "autoProbe needs a non-empty probe-plan table")
    val within = rows.filter(_.getAs[Long]("recall_micro") >= floorMicro)
    if (within.nonEmpty) within.map(_.getAs[Int]("n_probe")).min
    else rows.map(_.getAs[Int]("n_probe")).max
  }
}
