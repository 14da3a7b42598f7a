package graft

import org.apache.spark.sql.functions._

import graft.operators.Pq
import graft.sources.Tables

/** Laws for the product-quantization operator the hash gate can't
  * express: Lloyd's distortion guarantee, code-range bounds, and the
  * recall the ADC+rerank pipeline actually delivers vs brute force. */
class PqSpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, sf)

  test("codes are m=8 ints in [0, 16) for every vector") {
    val cb = Pq.codebook(emb, "vec_id", "embedding", dim = 64, m = 8, k = 16)
    val codes = Pq.encode(emb, cb, "vec_id", "embedding", dim = 64, m = 8)
    val bad = codes.filter(size(col("codes")) =!= 8 ||
      exists(col("codes"), c => c < 0 || c >= 16)).count()
    assert(bad === 0L)
    assert(codes.count() === emb.count())
  }

  test("one Lloyd round does not increase total quantization distortion") {
    def totalErr(iters: Int): Long = {
      val cb = Pq.codebook(emb, "vec_id", "embedding", 64, 8, 16, iters)
      Pq.encode(emb, cb, "vec_id", "embedding", 64, 8)
        .agg(sum(col("qerr"))).head().getLong(0)
    }
    val seeded = totalErr(0)
    val trained = totalErr(1)
    assert(trained <= seeded,
      s"Lloyd round increased distortion: $trained > $seeded")
    assert(trained < seeded,
      "on this corpus the round should strictly improve the codebook")
  }

  test("ADC shortlist + exact rerank reaches recall@10 >= 0.6 vs brute") {
    val queries = emb.filter(col("vec_id") % 50 === 0)
    val cb = Pq.codebook(emb, "vec_id", "embedding", dim = 64, m = 8, k = 16)
    val pq = Pq.adcTopKWithCodes(cb, Pq.encode(emb, cb, "vec_id", "embedding", 64, 8),
        emb, queries, "vec_id", "embedding", dim = 64, m = 8, topK = 10, shortlist = 100)
      .select(col("query_id"), col("neighbor_id")).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    // brute: exact integer-quantized L2 over the full corpus
    val qq = emb.select(col("vec_id").as("query_id"),
        transform(col("embedding"), x => round(x.cast("double") * 1e6).cast("long")).as("qq"))
      .filter(col("query_id") % 50 === 0)
    val nn = emb.select(col("vec_id").as("neighbor_id"),
      transform(col("embedding"), x => round(x.cast("double") * 1e6).cast("long")).as("qn"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("d2"), col("neighbor_id"))
    val brute = nn.crossJoin(broadcast(qq))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("d2", aggregate(
        zip_with(col("qq"), col("qn"), (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, v) => acc + v))
      .withColumn("r", row_number().over(w)).filter(col("r") <= 10)
      .select(col("query_id"), col("neighbor_id")).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recalls = brute.keys.toSeq.map(q =>
      (brute(q) & pq.getOrElse(q, Set.empty)).size.toDouble / brute(q).size)
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.6, s"mean recall@10 $mean under the 0.6 floor")
  }

  test("IVF-PQ: residual encoding + probed-cell ADC still clears recall@10 >= 0.5") {
    val out = graft.queries.SimilarityQueries.simTopKIvfPq(spark, sf)
      .select(col("query_id"), col("neighbor_id")).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val qq = emb.select(col("vec_id").as("query_id"),
        transform(col("embedding"), x => round(x.cast("double") * 1e6).cast("long")).as("qq"))
      .filter(col("query_id") % 50 === 0)
    val nn = emb.select(col("vec_id").as("neighbor_id"),
      transform(col("embedding"), x => round(x.cast("double") * 1e6).cast("long")).as("qn"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("d2"), col("neighbor_id"))
    val brute = nn.crossJoin(broadcast(qq))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("d2", aggregate(
        zip_with(col("qq"), col("qn"), (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, v) => acc + v))
      .withColumn("r", row_number().over(w)).filter(col("r") <= 10)
      .select(col("query_id"), col("neighbor_id")).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recalls = brute.keys.toSeq.map(q =>
      (brute(q) & out.getOrElse(q, Set.empty)).size.toDouble / brute(q).size)
    val mean = recalls.sum / recalls.size
    // the 4/16-cell probe caps attainable recall (a true neighbor in an
    // unprobed cell is unreachable by design); 0.5 is the measured floor
    // with margin, against 10/500 brute truth
    assert(mean >= 0.5, s"mean recall@10 $mean under the 0.5 floor")
  }

  test("every query returns a full contiguous top-10") {
    val out = graft.queries.SimilarityQueries.simTopKPq(spark, sf).collect()
    val byQ = out.groupBy(_.getLong(0))
    byQ.foreach { case (q, rows) =>
      assert(rows.map(_.getInt(1)).sorted.toSeq === (1 to 10),
        s"query $q ranks not contiguous")
    }
    assert(byQ.size === emb.filter(col("vec_id") % 50 === 0).count())
  }
}
