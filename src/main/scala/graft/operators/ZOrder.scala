package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) data-layout clustering: interleave the bits of
  * two quantized dimensions so that sorting by the resulting z-value
  * co-locates rows that are close in BOTH dimensions. Files written in
  * z-order carry narrow per-file min/max ranges on BOTH columns, so
  * engine-side data skipping (parquet row-group stats, the same stats
  * DuckDB/Trino/Delta OPTIMIZE ZORDER exploit) prunes multi-dimensional
  * predicates — the 100 TB story: a (customer, date-range) query touches
  * a tiny file subset instead of every file that a single-column sort
  * layout would leave unpruned on the second dimension.
  *
  * Everything here is built-in codegen'd expressions (shifts, masks,
  * bit-or) — the z-value computation runs inside whole-stage codegen in
  * the scan projection; no UDF, no custom expression needed.
  */
object ZOrder {

  /** Morton-interleave the low `bits` bits of `x` (even positions) and
    * `y` (odd positions). PRECONDITION (caller-checked): inputs
    * non-negative and < 2^bits — a violating value aliases onto a
    * distant z-cell silently, so pair this with [[quantize]] (whose
    * output is clamped into [0, buckets)) or validate upstream. */
  def interleaveBits(x: Column, y: Column, bits: Int): Column =
    (0 until bits).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i).bitwiseOR(
        shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_.bitwiseOR(_))

  /** Quantize `c` into [0, buckets) by linear min/max scaling:
    * `floor((c - lo) * buckets / (hi - lo))` clamped into the top
    * bucket (the max value alone would land at `buckets`), with a
    * zero-span guard (hi == lo → bucket 0). Correct for FRACTIONAL
    * domains (r14): the previous integer-domain form divided by
    * `hi - lo + 1`, which silently collapsed the bucket space when the
    * range is small relative to 1 — a [0, 1] score column used only the
    * bottom half of its buckets, and a 0.1-wide range crammed
    * everything into the lowest few, degrading the z-curve toward a
    * single-dimension layout with no error. Exact-integer callers that
    * need engine-portable `div` arithmetic keep their inline form
    * (LayoutQueries.zorderTiles). */
  def quantize(c: Column, lo: Column, hi: Column, buckets: Int): Column =
    when(hi <= lo, lit(0L)).otherwise(
      least(floor((c - lo) * lit(buckets) / (hi - lo)), lit((buckets - 1).toLong)))
      .cast("long")
}
