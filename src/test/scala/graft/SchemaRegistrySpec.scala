package graft

import java.net.InetSocketAddress
import java.nio.file.Files
import java.time.Instant

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.avro.{AvroCodec, SchemaCompat, SchemaRegistry}
import graft.avro.functions._
import graft.queries.AvroQueries
import graft.sources.KafkaReplay
import graft.streaming.StreamingPipeline

/** S4 closed end to end: a Confluent-shaped registry stub (in-process
  * JDK HttpServer speaking the public REST surface) feeds
  * [[SchemaRegistry]]'s driver-side fetch, and the fetched schema drives
  * the full streaming decode pipeline — registry GET -> `enforceAvro`
  * over a replayed topic -> decoded rows. */
class SchemaRegistrySpec extends SparkSpec {
  import spark.implicits._

  private val schema = AvroQueries.userSchemaJson
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Start a Confluent-shaped stub registry; returns (baseUrl, stop). */
  private def startStub(subject: String, id: Int, version: Int,
      schemaJson: String): (String, () => Unit) = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    def reply(ex: HttpExchange, code: Int, body: String): Unit = {
      val bytes = body.getBytes("UTF-8")
      ex.getResponseHeaders.add("Content-Type",
        "application/vnd.schemaregistry.v1+json")
      ex.sendResponseHeaders(code, bytes.length.toLong)
      ex.getResponseBody.write(bytes)
      ex.close()
    }
    // JSON-escape the schema string exactly as the registry does
    val schemaField = mapper.writeValueAsString(schemaJson)
    server.createContext(s"/subjects/$subject/versions/latest",
      (ex: HttpExchange) => reply(ex, 200,
        s"""{"subject":"$subject","version":$version,"id":$id,"schema":$schemaField}"""))
    server.createContext(s"/schemas/ids/$id",
      (ex: HttpExchange) => reply(ex, 200, s"""{"schema":$schemaField}"""))
    server.createContext("/",
      (ex: HttpExchange) => reply(ex, 404, """{"error_code":40401,"message":"not found"}"""))
    server.start()
    (s"http://127.0.0.1:${server.getAddress.getPort}", () => server.stop(0))
  }

  /** Registration-capable stub: POST /subjects/{s}/versions assigns ids
    * content-addressed per subject (idempotent re-register), GET latest
    * and GET /schemas/ids/{id} serve what was registered. `config` maps
    * subject → compatibility level (key "" = the global level); absent
    * keys answer 404 exactly as a registry with no override does. */
  private def startWritableStub(
      config: Map[String, String] = Map.empty): (String, () => Unit) = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val byId = scala.collection.mutable.Map[Int, String]()
    val bySubject = scala.collection.mutable.Map[String, List[(Int, String)]]()
    def reply(ex: HttpExchange, code: Int, body: String): Unit = {
      val bytes = body.getBytes("UTF-8")
      ex.getResponseHeaders.add("Content-Type",
        "application/vnd.schemaregistry.v1+json")
      ex.sendResponseHeaders(code, bytes.length.toLong)
      ex.getResponseBody.write(bytes)
      ex.close()
    }
    server.createContext("/", (ex: HttpExchange) => synchronized {
      val path = ex.getRequestURI.getPath
      val versionsPost = "^/subjects/([^/]+)/versions$".r
      val latestGet = "^/subjects/([^/]+)/versions/latest$".r
      val versionGet = "^/subjects/([^/]+)/versions/(\\d+)$".r
      val idGet = "^/schemas/ids/(\\d+)$".r
      val configGet = "^/config/([^/]+)$".r
      (ex.getRequestMethod, path) match {
        case ("GET", "/config") =>
          config.get("") match {
            case Some(l) => reply(ex, 200, s"""{"compatibilityLevel":"$l"}""")
            case None =>
              reply(ex, 404, """{"error_code":40408,"message":"no global config"}""")
          }
        case ("GET", configGet(subject)) =>
          config.get(subject) match {
            case Some(l) => reply(ex, 200, s"""{"compatibilityLevel":"$l"}""")
            case None =>
              reply(ex, 404, """{"error_code":40408,"message":"no subject config"}""")
          }
        case ("GET", versionsPost(subject)) =>
          bySubject.get(subject) match {
            case Some(list) =>
              reply(ex, 200, list.indices.map(_ + 1).mkString("[", ",", "]"))
            case None =>
              reply(ex, 404, """{"error_code":40401,"message":"not found"}""")
          }
        case ("GET", versionGet(subject, v)) =>
          bySubject.get(subject).flatMap(_.lift(v.toInt - 1)) match {
            case Some((id, s)) =>
              reply(ex, 200, s"""{"subject":"$subject","version":$v,"id":$id,"schema":${mapper.writeValueAsString(s)}}""")
            case None =>
              reply(ex, 404, """{"error_code":40402,"message":"not found"}""")
          }
        case ("POST", versionsPost(subject)) =>
          val posted = mapper.readTree(ex.getRequestBody).get("schema").asText()
          val existing = bySubject.getOrElse(subject, Nil)
          val id = existing.find(_._2 == posted).map(_._1).getOrElse {
            val next = byId.keys.maxOption.getOrElse(0) + 1
            byId(next) = posted
            bySubject(subject) = existing :+ ((next, posted))
            next
          }
          reply(ex, 200, s"""{"id":$id}""")
        case ("GET", latestGet(subject)) =>
          bySubject.get(subject).flatMap(_.lastOption) match {
            case Some((id, s)) =>
              val v = bySubject(subject).size
              reply(ex, 200, s"""{"subject":"$subject","version":$v,"id":$id,"schema":${mapper.writeValueAsString(s)}}""")
            case None =>
              reply(ex, 404, """{"error_code":40401,"message":"not found"}""")
          }
        case ("GET", idGet(id)) =>
          byId.get(id.toInt) match {
            case Some(s) => reply(ex, 200, s"""{"schema":${mapper.writeValueAsString(s)}}""")
            case None => reply(ex, 404, """{"error_code":40403,"message":"not found"}""")
          }
        case _ =>
          reply(ex, 404, """{"error_code":40401,"message":"not found"}""")
      }
    })
    server.start()
    (s"http://127.0.0.1:${server.getAddress.getPort}", () => server.stop(0))
  }

  test("register POSTs the subject and round-trips through fetch (producer.py:40)") {
    val (url, stop) = startWritableStub()
    try {
      // first serialize against an empty registry: register, like the
      // reference producer's auto-register of users-value
      intercept[java.io.IOException] { SchemaRegistry.fetchLatest(url, "users-value") }
      val id = SchemaRegistry.register(url, "users-value", schema)
      assert(id > 0)
      // idempotent: identical schema re-registers to the same id
      assert(SchemaRegistry.register(url, "users-value", schema) === id)
      // a consumer starting later resolves exactly what was produced
      val reg = SchemaRegistry.fetchLatest(url, "users-value")
      assert(reg.id === id)
      assert(AvroCodec.parsedSchema(reg.schemaJson) === AvroCodec.parsedSchema(schema))
      assert(AvroCodec.parsedSchema(SchemaRegistry.fetchById(url, id)) ===
        AvroCodec.parsedSchema(schema))
      // a new (evolved) schema gets a NEW id and becomes latest
      val evolved = schema.replace("\"User\"", "\"UserV2\"")
      val id2 = SchemaRegistry.register(url, "users-value", evolved)
      assert(id2 !== id)
      assert(SchemaRegistry.fetchLatest(url, "users-value").id === id2)
    } finally stop()
  }

  test("registerChecked enforces the compatibility mode client-side (r15)") {
    val (url, stop) = startWritableStub()
    try {
      val base =
        """{"type":"record","name":"U","namespace":"graft","fields":[
          |{"name":"a","type":"int"}]}""".stripMargin
      val addRequired =
        """{"type":"record","name":"U","namespace":"graft","fields":[
          |{"name":"a","type":"int"},{"name":"b","type":"string"}]}""".stripMargin
      val addDefaulted =
        """{"type":"record","name":"U","namespace":"graft","fields":[
          |{"name":"a","type":"int"},{"name":"b","type":"string","default":"x"}]}"""
          .stripMargin
      // empty subject: first registration is unchecked, like the server
      val id1 = SchemaRegistry.registerChecked(url, "u-value", base)
      assert(id1 > 0)
      // BACKWARD violation (new reader can't fill b) is a LOCAL error
      // with the path named — no POST reaches the registry
      val ex = intercept[IllegalArgumentException] {
        SchemaRegistry.registerChecked(url, "u-value", addRequired)
      }
      assert(ex.getMessage.contains("READER_FIELD_MISSING_DEFAULT_VALUE"))
      assert(SchemaRegistry.fetchLatest(url, "u-value").id === id1,
        "the violating schema must not have been registered")
      // the defaulted add passes BACKWARD and registers as latest
      val id2 = SchemaRegistry.registerChecked(url, "u-value", addDefaulted)
      assert(id2 !== id1)
      assert(SchemaRegistry.fetchLatest(url, "u-value").id === id2)
      // NONE mode registers anything, like a permissive estate
      val id3 = SchemaRegistry.registerChecked(url, "u-value", addRequired, mode = "NONE")
      assert(id3 !== id2)
    } finally stop()
  }

  test("fetchConfig resolves subject → global → BACKWARD default (r17 ask #5)") {
    // subject-level override wins
    val (url1, stop1) = startWritableStub(config =
      Map("u-value" -> "FULL", "" -> "FORWARD"))
    try {
      assert(SchemaRegistry.fetchConfig(url1, "u-value") === "FULL")
      // a subject with no override falls back to the global level
      assert(SchemaRegistry.fetchConfig(url1, "other-value") === "FORWARD")
    } finally stop1()
    // a registry with no config at any level reports the factory default
    val (url2, stop2) = startWritableStub()
    try assert(SchemaRegistry.fetchConfig(url2, "u-value") === "BACKWARD")
    finally stop2()
  }

  test("registerChecked defaults to the SERVER-configured mode (r17 ask #5)") {
    val base =
      """{"type":"record","name":"U","namespace":"graft","fields":[
        |{"name":"a","type":"int"}]}""".stripMargin
    val addRequired =
      """{"type":"record","name":"U","namespace":"graft","fields":[
        |{"name":"a","type":"int"},{"name":"b","type":"string"}]}""".stripMargin
    // subject configured NONE: the same evolution that violates BACKWARD
    // registers cleanly because the gate enforces what the SERVER would
    val (urlNone, stopNone) = startWritableStub(config = Map("u-value" -> "NONE"))
    try {
      SchemaRegistry.registerChecked(urlNone, "u-value", base): Unit
      val id = SchemaRegistry.registerChecked(urlNone, "u-value", addRequired)
      assert(id > 0, "NONE-configured subject must accept the add-required evolution")
    } finally stopNone()
    // global FORWARD (no subject override): dropping a field violates
    // FORWARD (old reader can't fill it) even though it passes BACKWARD
    val (urlFwd, stopFwd) = startWritableStub(config = Map("" -> "FORWARD"))
    try {
      SchemaRegistry.registerChecked(urlFwd, "u-value", addRequired): Unit
      val ex = intercept[IllegalArgumentException] {
        SchemaRegistry.registerChecked(urlFwd, "u-value", base)
      }
      assert(ex.getMessage.contains("FORWARD"))
      // an explicit caller mode still overrides the server's answer
      val id = SchemaRegistry.registerChecked(urlFwd, "u-value", base, mode = "NONE")
      assert(id > 0)
    } finally stopFwd()
  }

  test("registerChecked *_TRANSITIVE checks every registered version, not " +
      "just latest (r17 ask #5)") {
    val v1 =
      """{"type":"record","name":"U","namespace":"graft","fields":[
        |{"name":"a","type":"int"}]}""".stripMargin
    val v2 =
      """{"type":"record","name":"U","namespace":"graft","fields":[
        |{"name":"a","type":"int"},{"name":"b","type":"string","default":"x"}]}"""
        .stripMargin
    // passes BACKWARD vs latest (v2's writer always writes b) but fails
    // vs v1 (whose records lack b, and the new reader has no default)
    val newNoDefault =
      """{"type":"record","name":"U","namespace":"graft","fields":[
        |{"name":"a","type":"int"},{"name":"b","type":"string"}]}""".stripMargin
    val (url, stop) = startWritableStub(
      config = Map("u-value" -> "BACKWARD_TRANSITIVE"))
    try {
      SchemaRegistry.registerChecked(url, "u-value", v1, mode = "NONE"): Unit
      SchemaRegistry.registerChecked(url, "u-value", v2, mode = "NONE"): Unit
      // plain BACKWARD (latest only) would accept it…
      assert(SchemaCompat.checkBackward(newNoDefault, v2).isEmpty)
      // …but the server-configured transitive gate walks the history
      val ex = intercept[IllegalArgumentException] {
        SchemaRegistry.registerChecked(url, "u-value", newNoDefault)
      }
      assert(ex.getMessage.contains("BACKWARD_TRANSITIVE"))
      assert(SchemaRegistry.fetchLatest(url, "u-value").version === 2,
        "the violating schema must not have been registered")
    } finally stop()
  }

  test("registerChecked: only subject-not-found skips the gate; a 5xx on " +
      "fetch propagates instead of registering unchecked (r15 ADVICE)") {
    // a stub whose GET latest fails transiently (503) but whose POST
    // would succeed — the exact shape that used to silently disable the
    // compatibility gate when every IOException meant "no versions yet"
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    def reply(ex: com.sun.net.httpserver.HttpExchange, code: Int, body: String): Unit = {
      val bytes = body.getBytes("UTF-8")
      ex.sendResponseHeaders(code, bytes.length.toLong)
      ex.getResponseBody.write(bytes); ex.close()
    }
    @volatile var posted = false
    server.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) =>
      (ex.getRequestMethod, ex.getRequestURI.getPath) match {
        case ("GET", p) if p.endsWith("/versions/latest") =>
          reply(ex, 503, """{"error_code":50001,"message":"store unavailable"}""")
        case ("POST", _) => posted = true; reply(ex, 200, """{"id":1}""")
        case _ => reply(ex, 404, """{"error_code":40401,"message":"not found"}""")
      })
    server.start()
    val url = s"http://127.0.0.1:${server.getAddress.getPort}"
    try {
      val base =
        """{"type":"record","name":"U","namespace":"graft","fields":[
          |{"name":"a","type":"int"}]}""".stripMargin
      val ex = intercept[java.io.IOException] {
        SchemaRegistry.registerChecked(url, "u-value", base)
      }
      assert(!ex.isInstanceOf[SchemaRegistry.SubjectNotFound])
      assert(ex.getMessage.contains("503"))
      assert(!posted, "a failed compatibility fetch must not fall through to POST")
    } finally server.stop(0)
  }

  test("registered id drives the produce wire bytes end to end") {
    val (url, stop) = startWritableStub()
    try {
      val id = SchemaRegistry.register(url, "users-value", schema)
      val sparkUserType = AvroCodec.sparkStructType(schema)
      val rows = (0 until 3).map(i => Row(Row(
        s"id_$i", s"User$i", s"Doe$i", s"user$i@example.com", 20 + i,
        "secret123", "TRACK_XYZ", Row(s"$i St", "City", "00000"))))
      val wire = spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1),
          StructType(Seq(StructField("user", sparkUserType))))
        .select(to_avro_confluent(col("user"), schema, schemaId = id).as("b"))
        .collect().map(_.getAs[Array[Byte]](0))
      // every framed message carries the id the registry assigned, and a
      // by-id fetch resolves the schema that decodes the payload
      wire.foreach { b =>
        val sid = java.nio.ByteBuffer.wrap(b, 1, 4).getInt
        assert(sid === id)
      }
      assert(AvroCodec.parsedSchema(SchemaRegistry.fetchById(url, id)) ===
        AvroCodec.parsedSchema(schema))
    } finally stop()
  }

  test("fetchLatest and fetchById speak the Confluent REST surface") {
    val (url, stop) = startStub("users-value", 7, 3, schema)
    try {
      val reg = SchemaRegistry.fetchLatest(url, "users-value")
      assert(reg.subject === "users-value")
      assert(reg.id === 7)
      assert(reg.version === 3)
      // the round-tripped schema parses to the identical Avro schema
      assert(AvroCodec.parsedSchema(reg.schemaJson) === AvroCodec.parsedSchema(schema))
      assert(AvroCodec.parsedSchema(SchemaRegistry.fetchById(url, 7)) ===
        AvroCodec.parsedSchema(schema))
      intercept[java.io.IOException] { SchemaRegistry.fetchLatest(url, "nope-value") }
    } finally stop()
  }

  test("registry-fetched schema drives the streaming decode end to end") {
    val (url, stop) = startStub("users-value", 7, 1, schema)
    try {
      val reg = SchemaRegistry.fetchLatest(url, "users-value")

      // produce a replay topic whose wire bytes carry the registry id
      val sparkUserType = AvroCodec.sparkStructType(schema)
      val rows = (0 until 4).map(i => Row(Row(
        s"id_$i", s"User$i", s"Doe$i", s"user$i@example.com", 20 + i,
        "secret123", "TRACK_XYZ", Row(s"$i St", "City", "00000"))))
      val wire = spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1),
          StructType(Seq(StructField("user", sparkUserType))))
        .select(to_avro_confluent(col("user"), reg.schemaJson, schemaId = reg.id).as("b"))
        .collect().map(_.getAs[Array[Byte]](0))
      val dir = suiteTempDir("graft_registry_replay")
      val tsMicros = Instant.parse("2024-01-01T00:00:00Z").toEpochMilli * 1000L
      KafkaReplay.append(dir, wire.zipWithIndex.map { case (b, i) =>
        KafkaReplay.Record(i % 2, s"id_$i".getBytes, b, tsMicros)
      }.toSeq)

      // stream it through enforceAvro with the FETCHED schema
      val q = StreamingPipeline.enforceAvro(
          StreamingPipeline.replayStream(spark, dir), reg.schemaJson)
        .select($"v.user_id")
        .writeStream.format("memory").queryName("registry_out")
        .outputMode("append").trigger(
          org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      val got = spark.table("registry_out")
        .as[String].collect().sorted.toSeq
      assert(got === (0 until 4).map(i => s"id_$i"))

      // and the wire bytes on the topic carry the REGISTRY's schema id —
      // the by-id lookup a consumer would perform resolves the same schema
      val wireIds = spark.read.format(KafkaReplay.ShortName)
        .option("path", dir).load()
        .select(avro_schema_id($"value").as("sid"))
        .as[Int].collect().distinct.toSeq
      assert(wireIds === Seq(reg.id))
      assert(AvroCodec.parsedSchema(SchemaRegistry.fetchById(url, wireIds.head)) ===
        AvroCodec.parsedSchema(reg.schemaJson))
    } finally stop()
  }

  test("fetchVersions builds the id→schema dispatch map that decodes a " +
      "mixed-version topic in one pass (r17)") {
    val (url, stop) = startWritableStub()
    try {
      // two schema eras registered under one subject — the long-retention
      // topic scenario the reference's AvroDeserializer handles per id
      val v2Schema = graft.queries.AvroQueries.userV2SchemaJson
      val id1 = SchemaRegistry.register(url, "users-value", schema)
      val id2 = SchemaRegistry.register(url, "users-value", v2Schema)
      assert(id1 !== id2)
      // ONE driver-side sweep yields the whole dispatch map
      val registry = SchemaRegistry.fetchVersions(url, "users-value")
      assert(registry.keySet === Set(id1, id2))
      assert(AvroCodec.parsedSchema(registry(id1)) === AvroCodec.parsedSchema(schema))
      assert(AvroCodec.parsedSchema(registry(id2)) === AvroCodec.parsedSchema(v2Schema))
      intercept[SchemaRegistry.SubjectNotFound] {
        SchemaRegistry.fetchVersions(url, "nope-value")
      }

      // frames from BOTH eras, decoded by one from_avro_registry pass
      // against the latest reader — the fetched map as config, verbatim
      val v1Wire = spark.createDataFrame(
          spark.sparkContext.parallelize(Seq(Row(Row(
            "id_old", "User0", "Doe0", "old@example.com", 30,
            "secret123", "TRACK_XYZ", Row("0 St", "City", "00000")))), 1),
          StructType(Seq(StructField("user", AvroCodec.sparkStructType(schema)))))
        .select(to_avro_confluent(col("user"), schema, schemaId = id1).as("b"))
      val v2Wire = spark.createDataFrame(
          spark.sparkContext.parallelize(Seq(Row(Row(
            "id_new", "new@example.com", 25, "User1", "Doe1", "gold",
            Row("1 St", "City", "00000")))), 1),
          StructType(Seq(StructField("user", AvroCodec.sparkStructType(v2Schema)))))
        .select(to_avro_confluent(col("user"), v2Schema, schemaId = id2).as("b"))
      val got = v1Wire.union(v2Wire)
        .select(graft.avro.functions.from_avro_registry(
          col("b"), registry, registry(id2)).as("u"))
        .select($"u.user_id", $"u.status")
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(got === Set(("id_old", "active"), ("id_new", "gold")))
    } finally stop()
  }

  test("fetchLiveVersions: a retired BRANCH-incompatible era no longer " +
      "refuses strict startup; live eras decode; a lingering retired frame " +
      "still fails loudly (r19, VERDICT r18 ask #5)") {
    val (url, stop) = startWritableStub()
    try {
      // v0: the retired era — `age` was a ["int","string"] union, so the
      // string branch is undecodable by the int-aged reader. That is a
      // BRANCH-level (data-dependent) incompatibility: permissive mode
      // would defer it to read time, but strict mode refuses ANY mapped
      // writer with ANY incompatibility — the exact posture the r17
      // ADVICE caveat documented and this seam resolves.
      val v0Schema = schema.replace(
        """{"name": "age", "type": "int"}""",
        """{"name": "age", "type": ["int", "string"]}""")
      assert(v0Schema !== schema, "v0 fixture did not apply")
      val v2Schema = graft.queries.AvroQueries.userV2SchemaJson
      val id0 = SchemaRegistry.register(url, "users-value", v0Schema)
      val id1 = SchemaRegistry.register(url, "users-value", schema)
      val id2 = SchemaRegistry.register(url, "users-value", v2Schema)

      // branch-level only: NOT a total incompatibility (the int branch
      // decodes fine), but strict analysis gates it
      assert(SchemaCompat.totalIncompatibilities(v2Schema, v0Schema).isEmpty)
      assert(SchemaCompat.incompatibilities(v2Schema, v0Schema).nonEmpty)

      val full = SchemaRegistry.fetchVersions(url, "users-value")
      assert(full.keySet === Set(id0, id1, id2))
      val wire1 = spark.createDataFrame(
          spark.sparkContext.parallelize(Seq(Row(Row(
            "id_old", "User0", "Doe0", "old@example.com", 30,
            "secret123", "TRACK_XYZ", Row("0 St", "City", "00000")))), 1),
          StructType(Seq(StructField("user", AvroCodec.sparkStructType(schema)))))
        .select(to_avro_confluent(col("user"), schema, schemaId = id1).as("b"))

      // the FULL history refuses strict startup — config-error posture,
      // the offending retired writer named
      val refused = intercept[org.apache.spark.sql.AnalysisException] {
        wire1.select(from_avro_registry(col("b"), full, v2Schema))
      }
      assert(refused.getMessage.contains(s"writer id $id0"))

      // the seam: bind only the eras whose records can still appear
      val live = SchemaRegistry.fetchLiveVersions(url, "users-value",
        sinceId = id1)
      assert(live.keySet === Set(id1, id2))
      val wire2 = spark.createDataFrame(
          spark.sparkContext.parallelize(Seq(Row(Row(
            "id_new", "new@example.com", 25, "User1", "Doe1", "gold",
            Row("1 St", "City", "00000")))), 1),
          StructType(Seq(StructField("user", AvroCodec.sparkStructType(v2Schema)))))
        .select(to_avro_confluent(col("user"), v2Schema, schemaId = id2).as("b"))
      val got = wire1.union(wire2)
        .select(from_avro_registry(col("b"), live, v2Schema).as("u"))
        .select($"u.user_id", $"u.status")
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(got === Set(("id_old", "active"), ("id_new", "gold")))

      // the asserted-gone era turning out NOT to be gone: a frame still
      // carrying id0 fails loudly in strict (named id + live set), and
      // nulls-to-DLQ in permissive — never a silent decode against a
      // schema the pipeline dropped
      val retiredFrame = wire1.collect().map { r =>
        val b = r.getAs[Array[Byte]]("b").clone()
        java.nio.ByteBuffer.wrap(b, 1, 4).putInt(id0)
        b
      }
      val retiredDf = retiredFrame.toSeq.toDF("b")
      val boom = intercept[Exception] {
        retiredDf.select(from_avro_registry(col("b"), live, v2Schema))
          .collect()
      }
      val chain = Iterator.iterate(boom: Throwable)(_.getCause)
        .takeWhile(_ != null).take(8).toSeq
      assert(chain.exists(_.isInstanceOf[AvroCodec.UnknownSchemaIdException]),
        s"expected UnknownSchemaIdException in: $chain")
      val dlq = retiredDf
        .select(from_avro_registry(col("b"), live, v2Schema,
          permissive = true).as("u"))
        .collect()
      assert(dlq.length === 1 && dlq.head.isNullAt(0))

      // a sinceId beyond every registered id is a config error, by name
      val over = intercept[IllegalArgumentException] {
        SchemaRegistry.fetchLiveVersions(url, "users-value", sinceId = id2 + 1)
      }
      assert(over.getMessage.contains("sinceId"))
    } finally stop()
  }
}
