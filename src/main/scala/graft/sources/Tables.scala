package graft.sources

import org.apache.parquet.hadoop.ParquetFileWriter.{PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFooters
import org.apache.spark.sql.types.StructType

/** Parquet table loaders over the driver-generated testdata layout
  * (`/root/repo/TESTDATA.md`): one parquet file per table under `dir`.
  *
  * This is the batch analog of the reference's two scans — the Kafka
  * consumer scan (`/root/reference/producer/verifier_ui.py:36-76`) and the
  * MinIO object scan (`verifier_ui.py:88-96`) — re-expressed as columnar
  * parquet reads so Catalyst gets pushdown/pruning for free. At cluster
  * scale the same call sites take `s3a://bucket/...` paths; nothing here
  * assumes a local filesystem.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** The parquet table at `path` (one file, or a directory of part
    * files, hive-partitioned or not) with its schema read on the driver.
    * A bare `spark.read.parquet(path)` infers the schema in a Spark job
    * (`ParquetFileFormat.mergeSchemasInParallel`) that reads one footer
    * and serializes the session's Hadoop conf into its closure; handing
    * the same schema back through `.schema(...)` skips that job. The
    * relation is the one inference builds: Spark still applies
    * `asNullable`, keeps the field metadata and discovers partition
    * columns from the directory names (a partition column that is also
    * stored in the data files, which Spark only warns about, resolves to
    * the data files' type here). */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(footerSchema(spark, path)).parquet(path)

  /** The data schema `spark.read.parquet(path)` infers with
    * `spark.sql.parquet.mergeSchema` off (its default), read without a
    * job: the footer of `_common_metadata`, else `_metadata`, else the
    * first data file by path among the files the relation indexes
    * (hidden, `_`- and `.`-prefixed names excluded). A missing path, or
    * no footer to read, raises inference's own AnalysisException. Not
    * covered: a `mergeSchema` session, and a directory a file-stream
    * sink wrote, which Spark reads through its `_spark_metadata` log. */
  def footerSchema(spark: SparkSession, path: String): StructType = {
    val summaries = Seq(PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE)
    val (summary, data) = ParquetFooters.indexedFiles(spark, path)
      .sortBy(_.getPath.toString).partition(f => summaries.contains(f.getPath.getName))
    summaries.flatMap(n => summary.find(_.getPath.getName == n)).headOption
      .orElse(data.headOption)
      .flatMap(ParquetFooters.schema(spark, _))
      .getOrElse(throw ParquetFooters.noSchemaError())
  }

  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  /** Session conf graft sessions set at BUILD time for LEGACY testdata
    * generations where `events.ts` was parquet TIMESTAMP(NANOS) (which
    * Spark's vectorized reader rejects, [PARQUET_TYPE_ILLEGAL]); the flag
    * reads those nanos as a plain long instead. Harmless when the file is
    * TIMESTAMP(MICROS) — the flag only affects NANOS-annotated columns —
    * so the session builders keep setting it and [[events]] adapts to
    * whatever dtype the reader actually produced. */
  val nanosAsLongKey = "spark.sql.legacy.parquet.nanosAsLong"

  /** Normalize however `ts` physically arrived to session-TZ
    * TimestampType (sessions run UTC, so instants match DuckDB's naive
    * read of the same file). The testdata generator has shipped two
    * encodings so far — TIMESTAMP(NANOS) (read as long under
    * [[nanosAsLongKey]]; ns→us truncated via integer `div`, matching
    * DuckDB's narrowing) and TIMESTAMP(MICROS) `isAdjustedToUTC=false`
    * (read natively as TIMESTAMP_NTZ) — so branch on the LOADED dtype
    * instead of assuming a generation. */
  private[graft] def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types._
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        // NTZ→TZ cast reinterprets the wall-clock in the SESSION zone, so
        // it is instant-preserving only under UTC. Fail loudly on a
        // misconfigured session instead of silently shifting instants
        // (ADVICE r8: this guard was dropped with the nanos-as-long one).
        val tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
        require(tz == "UTC",
          s"events.ts is TIMESTAMP_NTZ; casting to TimestampType is only " +
            s"instant-correct with spark.sql.session.timeZone=UTC, got $tz")
        df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => df
      case other => throw new IllegalStateException(
        s"events.ts read as unsupported dtype $other — Tables.normalizeEventTs " +
          "handles LongType (legacy nanos-as-long), TIMESTAMP_NTZ, and TIMESTAMP; " +
          "the testdata encoding changed again: extend the branch here")
    }
  }

  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeEventTs(load(spark, dir, "events"))

  /** STREAMING read of events.parquet with the same normalized shape as
    * [[events]] (`ts` always session-TZ TimestampType). Streaming file
    * sources can't infer a schema, and hard-coding one resurrects the
    * generation-assumption [[normalizeEventTs]] exists to kill — so read
    * the footer schema ([[footerSchema]]) and declare THAT. One
    * definition for every streamed-events query. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame =
    normalizeEventTs(
      spark.readStream.schema(footerSchema(spark, s"$dir/events.parquet"))
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir))

  /** Orders replayed as a file stream (the CDC-changelog shape for the
    * streamed merge): schema read from the footer like
    * [[eventsStream]], so encoding drift surfaces in the contract spec,
    * not silently here. */
  def ordersStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(footerSchema(spark, s"$dir/orders.parquet"))
      .option("pathGlobFilter", "orders.parquet")
      .parquet(dir)

  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** Spread an under-parallel scan across the executor before CPU-dense
    * downstream work (r19 optimization round; guide §2.5's "one huge
    * unsplittable file … repartition immediately after the read").
    * Parquet can only split at row-group boundaries, and each testdata
    * table is ONE row group — so a scan stage (and everything Catalyst
    * fuses into it: tokenize/explode, Avro codec chains, decimal
    * aggregation) runs as ONE task no matter how many threads the
    * executor has. When the planned scan parallelism is already at or
    * above the executor's (the many-row-group production layout), this
    * is the identity — it can never add an exchange at estate scale.
    * `keys` must be non-empty and deterministic (hash partitioning —
    * a keyless round-robin would pay the sort-before-repartition tax
    * and, under task retry, the SPARK-38388 hazard); pass a unique-ish
    * key so the spread is even. Results are partitioning-invariant by
    * the repo's standing receipts (every aggregate is exact-integer /
    * decimal-routed; final orders are total). */
  def spreadForCompute(df: DataFrame, keys: org.apache.spark.sql.Column*): DataFrame = {
    require(keys.nonEmpty, "spreadForCompute needs deterministic spread keys")
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df
    else df.repartition(target, keys: _*)
  }
}
