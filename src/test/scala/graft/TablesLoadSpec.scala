package graft

import java.nio.file.{Files, Path => JPath, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftListenerFlush
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MetadataBuilder

import graft.sources.Tables

/** `Tables.parquet` (and so `Tables.load`) reads the table's schema from
  * a footer on the driver and hands it to `.schema(...)`. These tests pin
  * that the result is the relation `spark.read.parquet` infers — same
  * schema json, analyzed output (names, types, nullability, metadata),
  * input files and rows — for the testdata's single files, a
  * Spark-written directory and a hive-partitioned one, that it submits
  * no Spark job, and that failures raise inference's own errors.
  */
class TablesLoadSpec extends SparkSpec {

  private val sfDirs: Seq[String] =
    Option(new java.io.File(sf).getParentFile.listFiles).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.startsWith("sf"))
      .map(_.getPath).sorted

  /** Jobs submitted from this thread while `body` runs (tagged by a job
    * group, so jobs of other threads never count). */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"tables-load-${System.nanoTime}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet(): Unit
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "TablesLoadSpec job count")
    try {
      body
      GraftListenerFlush.waitUntilEmpty(sc)
      jobs.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def output(df: DataFrame) =
    df.queryExecution.analyzed.output.map(a => (a.name, a.dataType, a.nullable, a.metadata))

  /** Order-insensitive content fingerprint: row count plus two exact
    * (decimal) sums of independent row hashes. */
  private def fingerprint(df: DataFrame): Row = {
    val cols = df.columns.toSeq.map(c => col(s"`$c`"))
    df.select(xxhash64(cols: _*).cast("decimal(20,0)").as("h"),
        hash(cols: _*).cast("decimal(20,0)").as("g"))
      .agg(count(lit(1)), sum(col("h")), sum(col("g")))
      .head()
  }

  private def assertSameRelation(path: String): Unit = {
    val inferred = spark.read.parquet(path)
    val loaded = Tables.parquet(spark, path)
    assert(loaded.schema.json === inferred.schema.json, path)
    assert(output(loaded) === output(inferred), path)
    assert(loaded.inputFiles.sorted.toSeq === inferred.inputFiles.sorted.toSeq, path)
    assert(fingerprint(loaded) === fingerprint(inferred), path)
  }

  private def tempDir(prefix: String): JPath = Paths.get(suiteTempDir(prefix))

  /** A Spark-written directory: several part files, `_SUCCESS`, and a
    * non-nullable column carrying field metadata. A hidden file and a
    * `_`-prefixed file holding no parquet at all sort before the part
    * files, so picking either would fail the footer read. */
  private def sparkWrittenDir(): String = {
    val dir = tempDir("graft_tables_dir").resolve("t").toString
    val meta = new MetadataBuilder().putString("comment", "footer metadata").build()
    spark.range(0, 300, 1, 3)
      .select(col("id"), (col("id") % 7).cast("int").as("k"),
        concat(lit("v"), col("id").cast("string")).as("s", meta))
      .write.parquet(dir)
    Files.writeString(java.nio.file.Paths.get(dir, ".aaa.crc"), "not parquet")
    Files.writeString(java.nio.file.Paths.get(dir, "_aaa"), "not parquet")
    dir
  }

  test("every testdata table loads as the inferred relation") {
    assert(sfDirs.nonEmpty, s"no sf* dirs beside $sf")
    for (dir <- sfDirs; name <- Tables.names) assertSameRelation(s"$dir/$name.parquet")
  }

  test("a Spark-written directory loads as the inferred relation") {
    val dir = sparkWrittenDir()
    val parts = new java.io.File(dir).list().filter(_.startsWith("part-"))
    assert(parts.count(_.endsWith(".parquet")) === 3, parts.mkString(", "))
    assertSameRelation(dir)
    val s = Tables.parquet(spark, dir).schema("s")
    assert(s.nullable && s.metadata.getString("comment") === "footer metadata")
  }

  test("a hive-partitioned directory loads as the inferred relation") {
    val dir = tempDir("graft_tables_part").resolve("t").toString
    spark.range(0, 200, 1, 4)
      .select(col("id"), (col("id") % 3).cast("int").as("p"),
        when(col("id") % 2 === 0, lit("even")).otherwise(lit("odd")).as("q"))
      .write.partitionBy("p", "q").parquet(dir)
    assertSameRelation(dir)
    assert(Tables.parquet(spark, dir).schema.fieldNames.toSeq === Seq("id", "p", "q"))
  }

  test("summary files win the footer pick: _common_metadata, then _metadata") {
    // inference reads `_common_metadata` first, then `_metadata`, and
    // only then a data file; the summaries here carry wider schemas than
    // the part files, so a wrong pick shows up as a different schema
    val dir = tempDir("graft_tables_summary").resolve("t").toString
    spark.range(0, 50, 1, 2).select(col("id")).write.parquet(dir)
    def footerOf(df: DataFrame): JPath = {
      val d = tempDir("graft_tables_footer").resolve("f").toString
      df.coalesce(1).write.parquet(d)
      Files.list(java.nio.file.Paths.get(d)).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
    }
    val withA = footerOf(spark.range(1).select(col("id"), lit(1).as("a")))
    val withB = footerOf(spark.range(1).select(col("id"), lit("x").as("b")))
    Files.copy(withA, java.nio.file.Paths.get(dir, "_metadata"))
    assertSameRelation(dir)
    assert(Tables.parquet(spark, dir).schema.fieldNames.toSeq === Seq("id", "a"))
    Files.copy(withB, java.nio.file.Paths.get(dir, "_common_metadata"))
    assertSameRelation(dir)
    assert(Tables.parquet(spark, dir).schema.fieldNames.toSeq === Seq("id", "b"))
  }

  test("loading submits no Spark job; inference submits one") {
    val file = s"$sf/lineitem.parquet"
    val dir = sparkWrittenDir()
    assert(jobsDuring(spark.read.parquet(file).queryExecution.analyzed) >= 1,
      "the counter must see the inference job the load removes")
    for (path <- Seq(file, dir)) {
      assert(jobsDuring(Tables.parquet(spark, path).queryExecution.analyzed) === 0, path)
    }
    assert(jobsDuring(Tables.load(spark, sf, "events").queryExecution.analyzed) === 0)
    assert(jobsDuring(Tables.eventsStream(spark, sf).queryExecution.analyzed) === 0)
  }

  test("streamed loaders declare the schema the batch reader inferred") {
    val inferred = Tables.normalizeEventTs(
      spark.readStream.schema(spark.read.parquet(s"$sf/events.parquet").schema)
        .option("pathGlobFilter", "events.parquet").parquet(sf))
    assert(Tables.eventsStream(spark, sf).schema.json === inferred.schema.json)
    val orders = spark.readStream.schema(spark.read.parquet(s"$sf/orders.parquet").schema)
      .option("pathGlobFilter", "orders.parquet").parquet(sf)
    assert(Tables.ordersStream(spark, sf).schema.json === orders.schema.json)
  }

  test("a missing path or a directory with no data file raises inference's error") {
    def condition(f: => DataFrame): String = intercept[AnalysisException](f).getCondition
    val missing = tempDir("graft_tables_missing").resolve("absent.parquet").toString
    assert(condition(Tables.parquet(spark, missing)) ===
      condition(spark.read.parquet(missing)))
    assert(condition(Tables.load(spark, missing, "lineitem")) === "PATH_NOT_FOUND")
    val empty = tempDir("graft_tables_empty").resolve("t").toString
    spark.range(0).write.parquet(empty)
    new java.io.File(empty).listFiles().filter(_.getName.startsWith("part-"))
      .foreach(_.delete())
    assert(condition(Tables.parquet(spark, empty)) ===
      condition(spark.read.parquet(empty)))
    assert(condition(Tables.parquet(spark, empty)) === "UNABLE_TO_INFER_SCHEMA")
  }
}
