package graft.queries

import java.time.Instant

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.avro.functions.{avro_schema_id, from_avro_confluent, from_avro_registry, to_avro_confluent}
import graft.ops.ProfileTransform
import graft.sources.Tables

/** The reference's actual wire format, exercised end to end: rows are
  * encoded to Confluent-framed Avro binary and decoded back inside the
  * plan, so the DuckDB oracle (which never sees Avro) hash-matching the
  * output proves the codec is lossless — including the `["null","string"]`
  * union fields (`/root/reference/producer/producer.py:18-19`) and the
  * nested `address` record (producer.py:27-37).
  */
object AvroQueries {

  /** The producer's value schema, verbatim — the wire contract
    * (`/root/reference/producer/producer.py:11-38`). */
  val userSchemaJson: String =
    """{
      |  "type": "record", "name": "User", "namespace": "com.dorjee.avro",
      |  "fields": [
      |    {"name": "user_id", "type": "string"},
      |    {"name": "first_name", "type": ["null", "string"], "default": null},
      |    {"name": "last_name", "type": ["null", "string"], "default": null},
      |    {"name": "email", "type": "string"},
      |    {"name": "age", "type": "int"},
      |    {"name": "raw_password_hash", "type": "string"},
      |    {"name": "internal_tracking_code", "type": "string"},
      |    {"name": "address", "type": {"type": "record", "name": "Address",
      |      "fields": [
      |        {"name": "street", "type": "string"},
      |        {"name": "city", "type": "string"},
      |        {"name": "zip_code", "type": "string"}]}}
      |  ]
      |}""".stripMargin

  private val FixedClock = Instant.parse("2024-01-01T00:00:00Z")
  private val SchemaId = 7

  /** Fixture: `customer` rendered as the producer's User records.
    * c_custkey%7 rows carry a NULL first_name (the null union branch),
    * %13 rows a blank one (T2 filter fodder), %11 a NULL last_name. */
  private def userStruct(spark: SparkSession, dir: String): DataFrame =
    // r19: spread the unsplittable scan — every consumer fuses a full
    // Avro encode (and usually decode) chain into this projection, and
    // the single-row-group input ran it all as one task
    Tables.spreadForCompute(Tables.customer(spark, dir), col("c_custkey"))
      .select(struct(
      col("c_custkey").cast("string").as("user_id"),
      when(col("c_custkey") % 7 === 0, lit(null).cast("string"))
        .when(col("c_custkey") % 13 === 0, lit(" "))
        .otherwise(col("c_name")).as("first_name"),
      when(col("c_custkey") % 11 === 0, lit(null).cast("string"))
        .otherwise(col("c_mktsegment")).as("last_name"),
      concat(col("c_name"), lit("@example.com")).as("email"),
      (lit(10) + col("c_custkey") % 60).cast("int").as("age"),
      md5(col("c_name")).as("raw_password_hash"),
      concat(lit("TRACK_"), col("c_nationkey").cast("string")).as("internal_tracking_code"),
      struct(
        concat((col("c_custkey") % 100).cast("string"), lit(" St")).as("street"),
        col("c_mktsegment").as("city"),
        lpad(col("c_nationkey").cast("string"), 5, "0").as("zip_code")
      ).as("address")
    ).as("user"))

  /** The same fixture in DuckDB, bypassing Avro entirely. */
  private val usersCte =
    """users AS (
      |  SELECT CAST(c_custkey AS VARCHAR) AS user_id,
      |         CASE WHEN c_custkey % 7 = 0 THEN NULL
      |              WHEN c_custkey % 13 = 0 THEN ' '
      |              ELSE c_name END AS first_name,
      |         CASE WHEN c_custkey % 11 = 0 THEN NULL
      |              ELSE c_mktsegment END AS last_name,
      |         c_name || '@example.com' AS email,
      |         CAST(10 + c_custkey % 60 AS INTEGER) AS age,
      |         md5(c_name) AS raw_password_hash,
      |         'TRACK_' || CAST(c_nationkey AS VARCHAR) AS internal_tracking_code,
      |         CAST(c_custkey % 100 AS VARCHAR) || ' St' AS street,
      |         c_mktsegment AS city,
      |         lpad(CAST(c_nationkey AS VARCHAR), 5, '0') AS zip_code
      |  FROM customer
      |)""".stripMargin

  /** Encode -> decode -> flatten. A hash match against the Avro-free
    * oracle is a losslessness proof over every field incl. both union
    * branches; `schema_id` additionally pins the frame header bytes. */
  def avroRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val wire = userStruct(spark, dir)
      .select(to_avro_confluent(col("user"), userSchemaJson, SchemaId).as("value"))
    wire
      .select(
        avro_schema_id(col("value")).as("schema_id"),
        from_avro_confluent(col("value"), userSchemaJson).as("u"))
      .select(col("schema_id"), col("u.user_id"), col("u.first_name"),
        col("u.last_name"), col("u.email"), col("u.age"),
        col("u.raw_password_hash"), col("u.internal_tracking_code"),
        col("u.address.street").as("street"), col("u.address.city").as("city"),
        col("u.address.zip_code").as("zip_code"))
      .orderBy(col("user_id"))
  }

  /** Decode feeding the reference SMT (T2-T8) — the full reference
    * pipeline over its true wire format, batch-rendered. */
  def avroPipeline(spark: SparkSession, dir: String): DataFrame = {
    val t = ProfileTransform(clock = Some(FixedClock))
    val wire = userStruct(spark, dir)
      .select(to_avro_confluent(col("user"), userSchemaJson, SchemaId).as("value"))
    val decoded = wire
      .select(from_avro_confluent(col("value"), userSchemaJson).as("u"))
      .select(col("u.*"))
    t(decoded)
      .select(col("user_id"), col("first_name"), col("last_name"), col("email"),
        col("age"), col("address.street").as("street"),
        col("address.zip_code").as("zip_code"), col("full_name"),
        col("is_adult"), col("processed_ts"))
      .orderBy(col("user_id"))
  }

  /** S6 semantics on the Avro path: frames with a corrupted magic byte
    * (every %13th row) decode to null in permissive mode and are
    * dropped; the survivors aggregate to the oracle's numbers. */
  def avroMalformedSkip(spark: SparkSession, dir: String): DataFrame = {
    val wire = userStruct(spark, dir).select(
      col("user.user_id").cast("long").as("key"),
      to_avro_confluent(col("user"), userSchemaJson, SchemaId).as("value"))
    val corrupted = wire.select(
      when(col("key") % 13 === 0,
        concat(lit(Array[Byte](0x01.toByte)), col("value")))
        .otherwise(col("value")).as("value"))
    corrupted
      .select(from_avro_confluent(col("value"), userSchemaJson, permissive = true).as("u"))
      .filter(col("u").isNotNull)
      .agg(
        count(lit(1)).as("n_good"),
        sum(col("u.age").cast("long")).as("sum_age"),
        count(col("u.first_name")).as("n_named"))
  }

  /** Logical-types wire schema (r15, VERDICT r14 ask #3): `date`,
    * `timestamp-micros`, `timestamp-millis`, a nullable-union timestamp,
    * and a bytes-backed `decimal(18,2)` — the schema surface a
    * production registry estate carries beyond the reference's
    * primitives (reference analog: the registry enforcement surface,
    * docker-compose.yml:63-64). */
  val logicalSchemaJson: String =
    """{
      |  "type": "record", "name": "OrderEvent", "namespace": "com.dorjee.avro",
      |  "fields": [
      |    {"name": "order_id", "type": "long"},
      |    {"name": "order_ts", "type": {"type": "long", "logicalType": "timestamp-micros"}},
      |    {"name": "order_ts_ms", "type": {"type": "long", "logicalType": "timestamp-millis"}},
      |    {"name": "order_date", "type": {"type": "int", "logicalType": "date"}},
      |    {"name": "shipped_ts", "type": ["null", {"type": "long", "logicalType": "timestamp-micros"}], "default": null},
      |    {"name": "amount", "type": {"type": "bytes", "logicalType": "decimal", "precision": 18, "scale": 2}}
      |  ]
      |}""".stripMargin

  /** Logical types over the wire, end to end: orders rendered with
    * timestamp/date/decimal columns, encoded to Confluent-framed Avro
    * (micros pass through, the millis slot floors sub-ms, the date is
    * int days, the decimal rides as unscaled big-endian bytes), decoded
    * back, hash-matched against the Avro-free DuckDB rendering. The
    * millis column is pre-truncated on BOTH sides so the wire is
    * lossless for the value actually compared. Decimal values are built
    * from exact integers through a string cast (engine-neutral — no
    * double→decimal rounding-mode dependence).
    *
    * Compared columns are representation-neutral by discipline: the
    * three timestamps leave as unix_micros BIGINTs and the decimal as
    * its canonical string — the r15 driver gate showed that a raw
    * DecimalType (and, historically, DateType) cell fetches with
    * different dtypes across the two checkers (pandas `Decimal` objects
    * vs DuckDB float64) even when the values agree. The logical types
    * are still exercised END TO END on the wire inside the plan; only
    * the final projection normalizes. */
  def avroLogicalTypes(spark: SparkSession, dir: String): DataFrame = {
    // the parquet column is TIMESTAMP_NTZ; under the UTC session the
    // cast to TimestampType is instant-preserving
    // r19: spread the unsplittable scan so the fused encode→decode
    // codec chain (per-row Avro writer + reader + logical-type
    // conversions) runs executor-wide instead of as one scan task
    val src = Tables.spreadForCompute(Tables.orders(spark, dir), col("o_orderkey"))
      .withColumn("ots", col("o_orderdate").cast("timestamp"))
      .select(struct(
      col("o_orderkey").as("order_id"),
      col("ots").as("order_ts"),
      expr("timestamp_micros(unix_micros(ots) div 1000 * 1000)")
        .as("order_ts_ms"),
      col("ots").cast("date").as("order_date"),
      when(col("o_orderkey") % 7 === 0, lit(null).cast("timestamp"))
        .otherwise(expr("ots + INTERVAL 2 DAYS")).as("shipped_ts"),
      expr("""CAST(concat(CAST((o_orderkey * 137 + 11) DIV 100 AS STRING), '.',
             lpad(CAST((o_orderkey * 137 + 11) % 100 AS STRING), 2, '0'))
             AS DECIMAL(18,2))""").as("amount")
    ).as("ev"))
    val wire = src
      .select(to_avro_confluent(col("ev"), logicalSchemaJson, SchemaId).as("value"))
    wire
      .select(from_avro_confluent(col("value"), logicalSchemaJson).as("e"))
      // every decoded column keeps its logical type INSIDE the plan (the
      // wire test); the gate projection normalizes each hazard dtype —
      // timestamps → unix_micros BIGINT, date → ISO string, decimal →
      // canonical string — so both checkers fetch identical cells
      .select(col("e.order_id"),
        expr("unix_micros(e.order_ts)").as("order_ts_us"),
        expr("unix_micros(e.order_ts_ms)").as("order_ts_ms_us"),
        col("e.order_date").cast("string").as("order_date"),
        expr("unix_micros(e.shipped_ts)").as("shipped_ts_us"),
        col("e.amount").cast("string").as("amount"))
      .orderBy(col("order_id"))
  }

  /** Multi-branch union CARRYING logical types — the r16 extension of
    * the two r15 surfaces (logical types; multi-branch unions) into
    * their composition. `flex` is ["null", date, decimal(12,2), string]:
    * a 3-branch struct-of-branches whose date and decimal members must
    * keep their logical semantics through branch resolution on BOTH
    * directions of the wire. */
  val unionLogicalSchemaJson: String =
    """{
      |  "type": "record", "name": "FlexOrder", "namespace": "graft.avro",
      |  "fields": [
      |    {"name": "order_id", "type": "long"},
      |    {"name": "flex", "type": ["null",
      |        {"type": "int", "logicalType": "date"},
      |        {"type": "bytes", "logicalType": "decimal", "precision": 12, "scale": 2},
      |        "string"], "default": null}
      |  ]
      |}""".stripMargin

  /** Logical types INSIDE a multi-branch union, end to end over the
    * Confluent wire: one branch per orderkey residue (date / decimal /
    * string / null), encoded through the struct-of-branches rendering,
    * decoded back, every member projected representation-neutral (date
    * and decimal leave as strings per the gate's dtype discipline —
    * see [[avroLogicalTypes]]). The oracle rebuilds the same branch
    * routing Avro-free, so the hash proves branch resolution AND the
    * per-branch logical decode/encode are lossless. */
  def avroUnionLogicalTypes(spark: SparkSession, dir: String): DataFrame = {
    // r19: spread like avroLogicalTypes — the branch-routed codec chain
    // is compute-dense per row
    val src = Tables.spreadForCompute(Tables.orders(spark, dir), col("o_orderkey"))
      .withColumn("ots", col("o_orderdate").cast("timestamp"))
      .select(struct(
        col("o_orderkey").as("order_id"),
        when(col("o_orderkey") % 4 === 0, struct(
            col("ots").cast("date").as("member0"),
            lit(null).cast("decimal(12,2)").as("member1"),
            lit(null).cast("string").as("member2")))
          .when(col("o_orderkey") % 4 === 1, struct(
            lit(null).cast("date").as("member0"),
            expr("""CAST(concat(CAST((o_orderkey * 53 + 7) DIV 100 AS STRING), '.',
                   lpad(CAST((o_orderkey * 53 + 7) % 100 AS STRING), 2, '0'))
                   AS DECIMAL(12,2))""").as("member1"),
            lit(null).cast("string").as("member2")))
          .when(col("o_orderkey") % 4 === 2, struct(
            lit(null).cast("date").as("member0"),
            lit(null).cast("decimal(12,2)").as("member1"),
            concat(lit("note_"), col("o_orderkey")).as("member2")))
          .otherwise(lit(null).cast(
            "struct<member0:date,member1:decimal(12,2),member2:string>"))
          .as("flex")
      ).as("ev"))
    val wire = src
      .select(to_avro_confluent(col("ev"), unionLogicalSchemaJson, SchemaId).as("value"))
    wire
      .select(from_avro_confluent(col("value"), unionLogicalSchemaJson).as("e"))
      .select(col("e.order_id"),
        col("e.flex.member0").cast("string").as("flex_date"),
        col("e.flex.member1").cast("string").as("flex_amount"),
        col("e.flex.member2").as("flex_note"))
      .orderBy(col("order_id"))
  }

  /** An evolved reader schema for the OCF evolution read: drops the two
    * sensitive columns, reorders fields (name-matched resolution), and
    * adds `status` with a default — the three standard evolution moves. */
  val userV2SchemaJson: String =
    """{
      |  "type": "record", "name": "User", "namespace": "com.dorjee.avro",
      |  "fields": [
      |    {"name": "user_id", "type": "string"},
      |    {"name": "email", "type": "string"},
      |    {"name": "age", "type": "int"},
      |    {"name": "first_name", "type": ["null", "string"], "default": null},
      |    {"name": "last_name", "type": ["null", "string"], "default": null},
      |    {"name": "status", "type": "string", "default": "active"},
      |    {"name": "address", "type": {"type": "record", "name": "Address",
      |      "fields": [
      |        {"name": "street", "type": "string"},
      |        {"name": "city", "type": "string"},
      |        {"name": "zip_code", "type": "string"}]}}
      |  ]
      |}""".stripMargin

  /** The v2 writer's id on the wire (the registry assigns a fresh global
    * id per registered schema version; 7 is v1's). */
  private val SchemaIdV2 = 9

  /** Per-record writer-schema dispatch over a MIXED-VERSION corpus — the
    * behavior the reference gets from the registry `AvroDeserializer`
    * (`producer/verifier_ui.py:34,66`: the writer schema resolves from
    * each message's frame id), exercised end to end: one third of the
    * rows are encoded under the v1 producer schema (id 7), the rest
    * under the evolved v2 schema (id 9, carries `status`), and ONE
    * `from_avro_registry` pass decodes both eras against the v2 reader —
    * v1 records take the `status` default and drop the two sensitive
    * fields by resolution, v2 records read natively. `schema_id` in the
    * output pins that each record dispatched on its own frame id; the
    * Avro-free oracle rebuilds both eras' expected rendering, so a hash
    * match proves the id→schema dispatch and the per-writer evolution
    * projection are both lossless. */
  def avroMixedWriters(spark: SparkSession, dir: String): DataFrame = {
    val registry = Map(SchemaId -> userSchemaJson, SchemaIdV2 -> userV2SchemaJson)
    val u = userStruct(spark, dir)
    val v2Struct = struct(
      col("user.user_id"), col("user.email"), col("user.age"),
      col("user.first_name"), col("user.last_name"),
      concat(lit("tier_"),
        (col("user.user_id").cast("long") % 4).cast("string")).as("status"),
      col("user.address"))
    val wire = u.select(
      when(col("user.user_id").cast("long") % 3 === 0,
        to_avro_confluent(col("user"), userSchemaJson, SchemaId))
        .otherwise(to_avro_confluent(v2Struct, userV2SchemaJson, SchemaIdV2))
        .as("value"))
    wire
      .select(
        avro_schema_id(col("value")).as("schema_id"),
        from_avro_registry(col("value"), registry, userV2SchemaJson).as("u"))
      .select(col("schema_id"), col("u.user_id"), col("u.email"), col("u.age"),
        col("u.first_name"), col("u.last_name"), col("u.status"),
        col("u.address.city").as("city"))
      .orderBy(col("user_id"))
  }

  /** [[avroMixedWriters]] as a STREAMING job (r18, VERDICT r17 ask #4):
    * the same two-era corpus is produced onto a `graft-kafka-replay`
    * segment log, replayed through the V2 streaming source, and decoded
    * by ONE [[graft.streaming.StreamingPipeline.enforceAvroRegistry]]
    * pass — per-record writer dispatch inside a micro-batch, the exact
    * shape a long-retention topic hands a streaming consumer when its
    * value schema evolved mid-stream. Shares `avro_mixed_writers`'
    * Avro-free oracle, so the driver gate proves stream == batch ==
    * external engine (every other streaming stage's graduation bar).
    * Stateless decode: no watermark state to flush, so the no-data
    * batch is skipped. */
  def avroMixedWritersStreamed(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.KafkaReplay
    import graft.streaming.{StreamGate, StreamingPipeline}
    val registry = Map(SchemaId -> userSchemaJson, SchemaIdV2 -> userV2SchemaJson)
    val log = ocfDir(dir, "mixed_writers_log")
    val u = userStruct(spark, dir)
    val v2Struct = struct(
      col("user.user_id"), col("user.email"), col("user.age"),
      col("user.first_name"), col("user.last_name"),
      concat(lit("tier_"),
        (col("user.user_id").cast("long") % 4).cast("string")).as("status"),
      col("user.address"))
    val wire = u.select(
      (col("user.user_id").cast("long") % 4).cast("int").as("partition"),
      encode(col("user.user_id"), "UTF-8").as("key"),
      when(col("user.user_id").cast("long") % 3 === 0,
        to_avro_confluent(col("user"), userSchemaJson, SchemaId))
        .otherwise(to_avro_confluent(v2Struct, userV2SchemaJson, SchemaIdV2))
        .as("value"),
      lit(FixedClock.toEpochMilli * 1000L).as("tsMicros"),
      col("user.user_id").cast("long").as("seq"))
    KafkaReplay.writeLog(wire, log)
    val enforced = StreamingPipeline.enforceAvroRegistry(
      StreamingPipeline.replayStream(spark, log), registry, userV2SchemaJson)
      .select(col("schema_id"), col("v.user_id"), col("v.email"), col("v.age"),
        col("v.first_name"), col("v.last_name"), col("v.status"),
        col("v.address.city").as("city"))
    StreamGate.collect("avro_mixed_writers_streamed", enforced, skipNoDataBatch = true)
      .orderBy(col("user_id"))
  }

  /** Scratch dir for the container-file queries, keyed by the testdata
    * dir so concurrent Verify runs at different scale factors never
    * collide; each query owns its own subdir (AvroFiles.write replaces
    * its containers, so reruns are self-cleaning). */
  private def ocfDir(dir: String, sub: String): String =
    new java.io.File(new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_ocf_${Integer.toHexString(dir.hashCode)}"), sub).toString

  /** Write the users fixture as Avro container files, read it back, and
    * flatten — a hash match against the Avro-free oracle proves the OCF
    * round trip lossless (incl. both union branches). */
  def avroFileRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val users = userStruct(spark, dir).select(col("user.*"))
    val out = ocfDir(dir, "roundtrip")
    graft.avro.AvroFiles.write(users, userSchemaJson, out, codec = "deflate")
    graft.avro.AvroFiles.read(spark, out, userSchemaJson)
      .select(col("user_id"), col("first_name"), col("last_name"), col("email"),
        col("age"), col("raw_password_hash"), col("internal_tracking_code"),
        col("address.street").as("street"), col("address.city").as("city"),
        col("address.zip_code").as("zip_code"))
      .orderBy(col("user_id"))
  }

  /** The same OCF round trip through the NAMED DSv2 source
    * (`spark.read.format("graft-avro")`): the reader schema comes from
    * SCHEMA INFERENCE (the container header's writer schema), so a hash
    * match additionally proves the header→StructType inference exact. */
  def avroTableRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val users = userStruct(spark, dir).select(col("user.*"))
    val out = ocfDir(dir, "table_roundtrip")
    graft.avro.AvroFiles.write(users, userSchemaJson, out, codec = "deflate")
    spark.read.format("graft-avro").load(out)
      .select(col("user_id"), col("first_name"), col("last_name"), col("email"),
        col("age"), col("raw_password_hash"), col("internal_tracking_code"),
        col("address.street").as("street"), col("address.city").as("city"),
        col("address.zip_code").as("zip_code"))
      .orderBy(col("user_id"))
  }

  /** The WRITE half of the named DSv2 source under the gate:
    * `df.write.format("graft-avro")` (temp-container + rename-on-commit)
    * produces the archive, the named source reads it back — a hash
    * match proves the V2 writer's commit protocol loses and duplicates
    * nothing and the derived wire schema round-trips every field. */
  def avroTableWriteRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val users = userStruct(spark, dir).select(col("user.*"))
    val out = ocfDir(dir, "table_write")
    users.write.format("graft-avro").mode("overwrite")
      .option("avroSchema", userSchemaJson).save(out)
    spark.read.format("graft-avro").load(out)
      .select(col("user_id"), col("first_name"), col("last_name"), col("email"),
        col("age"), col("raw_password_hash"), col("internal_tracking_code"),
        col("address.street").as("street"), col("address.city").as("city"),
        col("address.zip_code").as("zip_code"))
      .orderBy(col("user_id"))
  }

  /** Files written with the producer schema, read with the evolved
    * reader: dropped fields vanish, `status` takes its default, and the
    * reordered layout is the reader's. */
  def avroFileEvolution(spark: SparkSession, dir: String): DataFrame = {
    val users = userStruct(spark, dir).select(col("user.*"))
    val out = ocfDir(dir, "evolution")
    graft.avro.AvroFiles.write(users, userSchemaJson, out, codec = "null")
    graft.avro.AvroFiles.read(spark, out, userV2SchemaJson)
      .select(col("user_id"), col("email"), col("age"), col("first_name"),
        col("last_name"), col("status"),
        col("address.city").as("city"))
      .orderBy(col("user_id"))
  }

  /** S2 through the REAL DataSource-V2 API: the users fixture is
    * produced onto a `graft-kafka-replay` segment log (partitioned by
    * `custkey % 4`, broker-style sequential offsets), then scanned back
    * via `format("graft-kafka-replay")` and Avro-decoded. The oracle
    * recomputes partition AND offset with `row_number()`, so a hash
    * match proves the source's partition routing and offset assignment
    * — not just the payload bytes. */
  def kafkaReplayPipeline(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.KafkaReplay
    val log = ocfDir(dir, "replay_log")
    val wire = userStruct(spark, dir).select(
      (col("user.user_id").cast("long") % 4).cast("int").as("partition"),
      encode(col("user.user_id"), "UTF-8").as("key"),
      to_avro_confluent(col("user"), userSchemaJson, SchemaId).as("value"),
      lit(FixedClock.toEpochMilli * 1000L).as("tsMicros"),
      col("user.user_id").cast("long").as("seq"))
    KafkaReplay.writeLog(wire, log)
    spark.read.format(KafkaReplay.ShortName)
      .option("path", log).option("topic", "users").load()
      .select(col("partition"), col("offset"),
        col("key").cast("string").as("key"),
        from_avro_confluent(col("value"), userSchemaJson).as("u"))
      .select(col("partition"), col("offset"), col("key"),
        col("u.user_id"), col("u.email"), col("u.age"),
        col("u.address.city").as("city"))
      .orderBy(col("partition"), col("offset"))
  }

  /** The producer half under the oracle gate: the users fixture streams
    * through the V2 `graft-kafka-replay` SINK (task spools →
    * epoch-transactional driver commit), then the batch source scans the
    * log back and Avro-decodes. Offsets are verified order-free:
    * per-partition aggregates pin the offset set to exactly {0..n-1}
    * (count = countDistinct = n, min 0, max n-1 — the commit's
    * broker-style dense assignment) without depending on intra-epoch
    * arrival order, which streaming writes do not define. A hash match
    * proves every record landed exactly once, on its routed partition,
    * with dense offsets and lossless payload bytes. */
  def kafkaSinkPipeline(spark: SparkSession, dir: String): DataFrame = {
    val log = ocfDir(dir, "sink_log")
    FileUtils.deleteQuietly(new java.io.File(log)) // the sink appends; each run produces afresh
    // the wire rows stage through a FILE stream, not a MemoryStream: a
    // MemoryStream needs the whole encoded fixture collect()ed to the
    // driver — an unbounded driver copy at scale, and the only streamed
    // gate query that didn't stream from files (r14 review). The
    // staging write + readStream keeps every row executor-side. Both
    // scratch dirs go in the finally: the result reads only the log.
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sink_ckpt").toString
    val wireDir = java.nio.file.Files.createTempDirectory("graft_sink_wire").toString
    try {
      val wire = userStruct(spark, dir).select(
        (col("user.user_id").cast("long") % 4).cast("int").as("partition"),
        encode(col("user.user_id"), "UTF-8").as("key"),
        to_avro_confluent(col("user"), userSchemaJson, SchemaId).as("value"))
      wire.write.mode("overwrite").parquet(wireDir)
      val q = spark.readStream.schema(wire.schema).parquet(wireDir)
        .select(col("key"), col("value"), col("partition"),
          lit(java.sql.Timestamp.from(FixedClock)).as("timestamp"))
        .writeStream.format(graft.sources.KafkaReplay.ShortName)
        .option("path", log).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    } finally {
      FileUtils.deleteQuietly(new java.io.File(ckpt))
      FileUtils.deleteQuietly(new java.io.File(wireDir))
    }
    val raw = spark.read.format(graft.sources.KafkaReplay.ShortName)
      .option("path", log).load()
      .select(col("partition"), col("offset"),
        col("key").cast("string").as("key"),
        from_avro_confluent(col("value"), userSchemaJson).as("u"))
    val stats = raw.groupBy(col("partition")).agg(
      count(lit(1)).as("n_in_part"),
      min(col("offset")).as("off_min"),
      max(col("offset")).as("off_max"),
      countDistinct(col("offset")).as("off_distinct"))
    raw.join(broadcast(stats), "partition")
      .select(col("partition"), col("key"),
        col("u.user_id"), col("u.email"), col("u.age"),
        col("u.address.city").as("city"),
        col("n_in_part"), col("off_min"), col("off_max"), col("off_distinct"))
      .orderBy(col("partition"), col("user_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "avro_roundtrip" -> (avroRoundtrip _),
    "avro_pipeline" -> (avroPipeline _),
    "avro_malformed_skip" -> (avroMalformedSkip _),
    "avro_file_roundtrip" -> (avroFileRoundtrip _),
    "avro_table_roundtrip" -> (avroTableRoundtrip _),
    "avro_table_write_roundtrip" -> (avroTableWriteRoundtrip _),
    "avro_file_evolution" -> (avroFileEvolution _),
    "kafka_replay_pipeline" -> (kafkaReplayPipeline _),
    "kafka_sink_pipeline" -> (kafkaSinkPipeline _),
    "avro_logical_types" -> (avroLogicalTypes _),
    "avro_union_logical_types" -> (avroUnionLogicalTypes _),
    "avro_mixed_writers" -> (avroMixedWriters _),
    "avro_mixed_writers_streamed" -> (avroMixedWritersStreamed _)
  )

  val oracles: Map[String, String] = Map(
    // the Avro-free rendering of the logical-types fixture: equal output
    // proves date/timestamp-micros/timestamp-millis/decimal survive the
    // wire bit-exactly (millis pre-truncated identically on both sides)
    "avro_logical_types" ->
      """SELECT o_orderkey AS order_id,
        |       epoch_us(o_orderdate) AS order_ts_us,
        |       epoch_us(o_orderdate) // 1000 * 1000 AS order_ts_ms_us,
        |       CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_date,
        |       CASE WHEN o_orderkey % 7 = 0 THEN NULL
        |            ELSE epoch_us(o_orderdate + INTERVAL 2 DAY) END AS shipped_ts_us,
        |       CAST((o_orderkey * 137 + 11) // 100 AS VARCHAR) || '.' ||
        |            lpad(CAST((o_orderkey * 137 + 11) % 100 AS VARCHAR), 2, '0')
        |            AS amount
        |FROM orders ORDER BY order_id""".stripMargin,
    // the union branch routing rebuilt Avro-free: a hash match proves
    // branch RESOLUTION (which member is non-null) and the per-branch
    // logical decode (date days, decimal unscaled bytes) both survived
    // the wire
    "avro_union_logical_types" ->
      """SELECT o_orderkey AS order_id,
        |       CASE WHEN o_orderkey % 4 = 0
        |            THEN CAST(CAST(o_orderdate AS DATE) AS VARCHAR) END AS flex_date,
        |       CASE WHEN o_orderkey % 4 = 1
        |            THEN CAST((o_orderkey * 53 + 7) // 100 AS VARCHAR) || '.' ||
        |                 lpad(CAST((o_orderkey * 53 + 7) % 100 AS VARCHAR), 2, '0')
        |            END AS flex_amount,
        |       CASE WHEN o_orderkey % 4 = 2
        |            THEN 'note_' || CAST(o_orderkey AS VARCHAR) END AS flex_note
        |FROM orders ORDER BY order_id""".stripMargin,
    // both writer eras rebuilt Avro-free: v1 rows (user_id%3=0) carry the
    // reader default status and v2 rows their written tier — a hash match
    // proves the per-record id→schema dispatch decoded each era under its
    // own writer schema
    "avro_mixed_writers" ->
      s"""WITH $usersCte
         |SELECT CASE WHEN CAST(user_id AS BIGINT) % 3 = 0
         |            THEN CAST($SchemaId AS INTEGER)
         |            ELSE CAST($SchemaIdV2 AS INTEGER) END AS schema_id,
         |       user_id, email, age, first_name, last_name,
         |       CASE WHEN CAST(user_id AS BIGINT) % 3 = 0 THEN 'active'
         |            ELSE 'tier_' || CAST(CAST(user_id AS BIGINT) % 4 AS VARCHAR)
         |            END AS status,
         |       city
         |FROM users ORDER BY user_id""".stripMargin,
    // the STREAMED half shares the mixed-writer oracle verbatim: the
    // driver gate itself proves stream == batch == external engine
    "avro_mixed_writers_streamed" ->
      s"""WITH $usersCte
         |SELECT CASE WHEN CAST(user_id AS BIGINT) % 3 = 0
         |            THEN CAST($SchemaId AS INTEGER)
         |            ELSE CAST($SchemaIdV2 AS INTEGER) END AS schema_id,
         |       user_id, email, age, first_name, last_name,
         |       CASE WHEN CAST(user_id AS BIGINT) % 3 = 0 THEN 'active'
         |            ELSE 'tier_' || CAST(CAST(user_id AS BIGINT) % 4 AS VARCHAR)
         |            END AS status,
         |       city
         |FROM users ORDER BY user_id""".stripMargin,
    "avro_roundtrip" ->
      s"""WITH $usersCte
         |SELECT CAST($SchemaId AS INTEGER) AS schema_id, user_id, first_name,
         |       last_name, email, age, raw_password_hash,
         |       internal_tracking_code, street, city, zip_code
         |FROM users ORDER BY user_id""".stripMargin,
    "avro_pipeline" ->
      s"""WITH $usersCte
         |SELECT user_id, first_name, last_name,
         |       'redacted@email.com' AS email, age, street, zip_code,
         |       concat_ws(' ', first_name, last_name) AS full_name,
         |       coalesce(age >= 18, false) AS is_adult,
         |       '2024-01-01T00:00:00Z' AS processed_ts
         |FROM users
         |WHERE first_name IS NOT NULL AND trim(first_name) <> ''
         |  AND last_name IS NOT NULL AND trim(last_name) <> ''
         |ORDER BY user_id""".stripMargin,
    "avro_malformed_skip" ->
      s"""WITH $usersCte
         |SELECT COUNT(*) AS n_good,
         |       CAST(SUM(age) AS BIGINT) AS sum_age,
         |       COUNT(first_name) AS n_named
         |FROM users WHERE CAST(user_id AS BIGINT) % 13 <> 0""".stripMargin,
    "avro_table_write_roundtrip" ->
      s"""WITH $usersCte
         |SELECT user_id, first_name, last_name, email, age,
         |       raw_password_hash, internal_tracking_code, street, city,
         |       zip_code
         |FROM users ORDER BY user_id""".stripMargin,
    "avro_table_roundtrip" ->
      s"""WITH $usersCte
         |SELECT user_id, first_name, last_name, email, age,
         |       raw_password_hash, internal_tracking_code, street, city,
         |       zip_code
         |FROM users ORDER BY user_id""".stripMargin,
    "avro_file_roundtrip" ->
      s"""WITH $usersCte
         |SELECT user_id, first_name, last_name, email, age,
         |       raw_password_hash, internal_tracking_code, street, city,
         |       zip_code
         |FROM users ORDER BY user_id""".stripMargin,
    "avro_file_evolution" ->
      s"""WITH $usersCte
         |SELECT user_id, email, age, first_name, last_name,
         |       'active' AS status, city
         |FROM users ORDER BY user_id""".stripMargin,
    "kafka_replay_pipeline" ->
      s"""WITH $usersCte
         |SELECT CAST(CAST(user_id AS BIGINT) % 4 AS INTEGER) AS partition,
         |       CAST(row_number() OVER (
         |         PARTITION BY CAST(user_id AS BIGINT) % 4
         |         ORDER BY CAST(user_id AS BIGINT)) - 1 AS BIGINT) AS "offset",
         |       user_id AS key, user_id, email, age, city
         |FROM users ORDER BY partition, "offset"""".stripMargin,
    "kafka_sink_pipeline" ->
      s"""WITH $usersCte,
         |p AS (
         |  SELECT user_id, email, age, city,
         |         CAST(CAST(user_id AS BIGINT) % 4 AS INTEGER) AS partition
         |  FROM users),
         |s AS (SELECT partition, COUNT(*) AS n FROM p GROUP BY partition)
         |SELECT p.partition, p.user_id AS key, p.user_id, p.email, p.age,
         |       p.city, s.n AS n_in_part, CAST(0 AS BIGINT) AS off_min,
         |       CAST(s.n - 1 AS BIGINT) AS off_max, s.n AS off_distinct
         |FROM p JOIN s USING (partition)
         |ORDER BY p.partition, p.user_id""".stripMargin
  )
}
