package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Quantile-balanced range partitioning: the layout planner behind
  * sorted writes.
  *
  * A sorted (range-partitioned) layout is what makes parquet min/max
  * zone maps selective — see [[graft.queries.MaintenanceQueries]]'s
  * `scan_zonemap_prune` — but naive fixed-width ranges skew badly on
  * real value distributions (the reference's sink has no layout control
  * at all: `connectors/s3-sink.json` flushes arrival order). The fix is
  * boundaries at the observed quantiles, estimated from a SAMPLE:
  * `approxQuantile` is one pass with a Greenwald-Khanna sketch per
  * partition (merged on the driver, bounded by 1/err entries), so
  * planning cost is independent of table size — the same design as
  * Spark's own `RangePartitioner` sampling, exposed as a reusable plan.
  */
object RangePartition {

  /** `numParts - 1` interior cut points at the approximate quantiles of
    * `valueCol`. `err` is the approxQuantile relative-rank error: a cut
    * intended for rank q may land at rank q ± err, which bounds any
    * partition's share of rows by 1/numParts + 2*err. */
  def planBoundaries(df: DataFrame, valueCol: String, numParts: Int,
      err: Double = 0.001): Array[Double] = {
    require(numParts > 1, "numParts must be > 1")
    val probs = (1 until numParts).map(_.toDouble / numParts).toArray
    df.stat.approxQuantile(valueCol, probs, err)
  }

  /** Assign each row its range-partition id by binary search over the
    * planned boundaries — broadcast-free (the boundary array is a
    * literal baked into the plan) and codegen-friendly. */
  def assign(df: DataFrame, valueCol: String, boundaries: Array[Double]): DataFrame = {
    // array_position over a sorted literal array is O(B) per row; B is
    // the partition count (small). aggregate() keeps it in codegen.
    val bs = array(boundaries.map(lit(_)): _*)
    df.withColumn("part_id",
      aggregate(bs, lit(0), (acc, b) => acc + when(col(valueCol) > b, 1).otherwise(0)))
  }

  /** Physically range-partition `df` for a sorted write:
    * `repartitionByRange` (Spark samples boundaries internally with the
    * same sketch family) + intra-partition sort so every output file
    * covers one tight value band. */
  def layout(df: DataFrame, cols: Column*): DataFrame =
    df.repartitionByRange(cols: _*).sortWithinPartitions(cols: _*)

  /** As [[layout]] with an explicit output-partition (= file) count. */
  def layout(df: DataFrame, numParts: Int, cols: Column*): DataFrame =
    df.repartitionByRange(numParts, cols: _*).sortWithinPartitions(cols: _*)
}
