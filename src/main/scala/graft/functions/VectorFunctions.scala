package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.expressions.CosineSimilarity

/** Vector math over `array<float>` embedding columns. Two renderings of
  * cosine similarity with identical IEEE-double semantics:
  *
  *  - `cosineHof`: pure built-in HOFs (`aggregate`/`zip_with`) — the
  *    composable baseline, three array passes.
  *  - `cosine`: the fused codegen `CosineSimilarity` expression — one
  *    pass, the 100 TB hot path.
  *
  * Both fold element-by-element in array order, so results are
  * bit-identical to each other and to DuckDB's list_cosine_similarity on
  * DOUBLE[] (sequential loop) — which the oracles rely on.
  */
object VectorFunctions {

  import org.apache.spark.sql.graft.ExprBridge

  /** Double squared-L2 between two float arrays as an index-ordered
    * fold — bit-identical to the oracle's list_transform+list_sum. ONE
    * home (r15 review: Ivf, Pq, and an inline copy in Ivf's on-disk
    * search each re-spelled it; the fold order and cast placement are
    * load-bearing for oracle bit-equality, so a fix to one copy must
    * not diverge the others). */
  def dist2(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.aggregate(
      org.apache.spark.sql.functions.zip_with(a, b,
        (x, c) => (x.cast("double") - c.cast("double")) *
          (x.cast("double") - c.cast("double"))),
      org.apache.spark.sql.functions.lit(0.0), (acc, v) => acc + v)

  def cosine(a: Column, b: Column): Column =
    ExprBridge.column(CosineSimilarity(ExprBridge.expression(a), ExprBridge.expression(b)))

  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def normSq(a: Column): Column =
    aggregate(a, lit(0.0), (acc, v) => acc + v.cast("double") * v.cast("double"))

  def cosineHof(a: Column, b: Column): Column = {
    val na = normSq(a)
    val nb = normSq(b)
    // the length check comes FIRST, like the fused expression's: a
    // zero-norm side must not short-circuit a mismatched pair to 0.0
    // while the fused path nulls it — the two paths are spec-pinned
    // value-identical on every input class
    when(size(a) =!= size(b), lit(null).cast("double"))
      .otherwise(when(na === 0.0 || nb === 0.0, lit(0.0))
        .otherwise(dotHof(a, b) / (sqrt(na) * sqrt(nb))))
  }

  /** Signed random-hyperplane bit: sign of v · h_p where plane p has
    * deterministic ±1 components derived from xxhash64(p, d). Shared by
    * the LSH index and query paths. */
  def hyperplaneBit(vec: Column, plane: Int): Column = {
    val dim = size(vec)
    // guard the empty vector: sequence(0, -1) DESCENDS (default step -1)
    // and element_at(vec, 0) then throws — the fused kernel computes
    // dot = 0.0 and emits bit 1, so the reference must too
    val idx = when(dim >= 1, sequence(lit(0), dim - 1))
      .otherwise(array().cast("array<int>"))
    val dot = aggregate(idx, lit(0.0),
      (acc, d) => acc +
        element_at(vec, d + 1).cast("double") *
          when(xxhash64(lit(plane), d).bitwiseAND(1) === 1, lit(1.0)).otherwise(lit(-1.0)))
    when(dot >= 0, lit(1)).otherwise(lit(0))
  }

  /** HOF reference formulation of the signature — planes interpreted
    * aggregate lambdas per row (kept as the bit-identity baseline for
    * the fused expression below). */
  def hyperplaneSignatureHof(vec: Column, planes: Int): Column =
    // null vector -> null signature, like the fused expression's
    // nullSafeEval (the bare bit would read null dot >= 0 as false and
    // mint an all-zeros signature for null input)
    when(vec.isNotNull,
      array((0 until planes).map(p => hyperplaneBit(vec, p)): _*))

  /** Full signature as an int array (planes bits) — fused single-pass
    * expression, bit-identical to `hyperplaneSignatureHof`. */
  def hyperplaneSignature(vec: Column, planes: Int): Column =
    ExprBridge.column(graft.expressions.HyperplaneSignature(
      ExprBridge.expression(vec), planes))

  /** md5-parity plane bit (engine-neutral): sign(p,d) = +1 iff the first
    * hex char of md5("hp|p|d") has odd ASCII. HOF reference for the
    * fused twin below — and the exact formula a DuckDB oracle replays. */
  def hyperplaneBitMd5(vec: Column, plane: Int): Column = {
    val dim = size(vec)
    val idx = when(dim >= 1, sequence(lit(0), dim - 1)) // empty-vec guard, see hyperplaneBit
      .otherwise(array().cast("array<int>"))
    val dot = aggregate(idx, lit(0.0),
      (acc, d) => acc +
        element_at(vec, d + 1).cast("double") *
          when(ascii(substring(md5(
            concat(lit(s"hp|$plane|"), d.cast("string"))), 1, 1)) % 2 === 1,
            lit(1.0)).otherwise(lit(-1.0)))
    when(dot >= 0, lit(1)).otherwise(lit(0))
  }

  def hyperplaneSignatureMd5Hof(vec: Column, planes: Int): Column =
    when(vec.isNotNull, // null-in null-out, matching the fused twin
      array((0 until planes).map(p => hyperplaneBitMd5(vec, p)): _*))

  /** Fused md5-family signature — bit-identical to the HOF reference and
    * recomputable in SQL (the oracle path for LSH operators). */
  def hyperplaneSignatureMd5(vec: Column, planes: Int): Column =
    ExprBridge.column(graft.expressions.HyperplaneSignatureMd5(
      ExprBridge.expression(vec), planes))
}
