package graft

import java.nio.ByteBuffer
import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.avro.AvroCodec
import graft.avro.functions._
import graft.ops.ProfileTransform
import graft.queries.AvroQueries
import graft.streaming.StreamingPipeline

case class KBinRecord(key: String, value: Array[Byte], topic: String,
    partition: Int, offset: Long, timestamp: Timestamp)

/** The Avro wire path (S1/S3): Confluent framing, nullable unions, nested
  * records, permissive malformed-skip, and the full reference pipeline
  * streamed over Avro-encoded payloads.
  */
class AvroSpec extends SparkSpec {
  import spark.implicits._

  private val schema = AvroQueries.userSchemaJson

  private def userRow(i: Int, first: Option[String]): Row = Row(
    s"id_$i", first.orNull, s"Doe$i", s"user$i@example.com", 20 + i,
    "secret123", "TRACK_XYZ", Row(s"$i St", "City", "00000"))

  private val sparkUserType =
    AvroCodec.sparkStructType(schema)

  private def usersDf(rows: Seq[Row]) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row(_)), 2),
      StructType(Seq(StructField("user", sparkUserType))))

  test("schema -> Spark type mapping (unions nullable, nested record)") {
    assert(sparkUserType.fieldNames.toSeq === Seq("user_id", "first_name",
      "last_name", "email", "age", "raw_password_hash",
      "internal_tracking_code", "address"))
    assert(sparkUserType("first_name").nullable)
    assert(!sparkUserType("user_id").nullable)
    assert(sparkUserType("age").dataType === IntegerType)
    assert(sparkUserType("address").dataType.isInstanceOf[StructType])
  }

  test("round trip preserves values, null unions, unicode, empty strings") {
    val rows = Seq(
      userRow(0, Some("User0")), userRow(1, Some("")), userRow(2, None),
      userRow(3, Some("Üsér✓3")))
    val back = usersDf(rows)
      .select(to_avro_confluent(col("user"), schema, schemaId = 42).as("b"))
      .select(from_avro_confluent(col("b"), schema).as("user"))
      .select(col("user"))
      .collect().map(_.getStruct(0)).toSeq
    assert(back === rows)
  }

  test("frame header: magic byte 0x00 + big-endian schema id") {
    val bytes = usersDf(Seq(userRow(0, Some("A"))))
      .select(to_avro_confluent(col("user"), schema, schemaId = 0x01020304).as("b"))
      .collect().head.getAs[Array[Byte]](0)
    assert(bytes(0) === 0x00.toByte)
    assert(ByteBuffer.wrap(bytes, 1, 4).getInt === 0x01020304)
    val ids = usersDf(Seq(userRow(0, Some("A"))))
      .select(avro_schema_id(to_avro_confluent(col("user"), schema, 0x01020304)).as("id"))
      .as[Int].collect()
    assert(ids.toSeq === Seq(0x01020304))
  }

  test("strict decode throws on a bad frame; permissive yields null") {
    val corrupt = Seq(Array[Byte](1, 2, 3)).toDF("b")
    intercept[Exception] {
      corrupt.select(from_avro_confluent(col("b"), schema)).collect()
    }
    val out = corrupt
      .select(from_avro_confluent(col("b"), schema, permissive = true).as("u"))
      .collect()
    assert(out.head.isNullAt(0))
  }

  test("extended types: arrays, maps, bytes, long/double/boolean round trip") {
    val richSchema =
      """{"type":"record","name":"Rich","fields":[
        |  {"name":"tags","type":{"type":"array","items":"string"}},
        |  {"name":"scores","type":{"type":"map","values":"double"}},
        |  {"name":"payload","type":"bytes"},
        |  {"name":"n","type":"long"},
        |  {"name":"ok","type":"boolean"},
        |  {"name":"maybe","type":["null",{"type":"array","items":"long"}]}
        |]}""".stripMargin
    val t = AvroCodec.sparkStructType(richSchema)
    val rows = Seq(
      Row(Seq("a", "b"), Map("x" -> 1.5, "y" -> -2.0), Array[Byte](7, 8), 9L, true, Seq(1L, 2L)),
      Row(Seq.empty[String], Map.empty[String, Double], Array.empty[Byte], -1L, false, null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row(_)), 1),
      StructType(Seq(StructField("r", t))))
    val back = df
      .select(to_avro_confluent(col("r"), richSchema).as("b"))
      .select(from_avro_confluent(col("b"), richSchema).as("r"))
      .select(col("r.tags"), col("r.scores"), col("r.payload"), col("r.n"),
        col("r.ok"), col("r.maybe"))
      .collect()
    assert(back(0).getSeq[String](0) === Seq("a", "b"))
    assert(back(0).getMap[String, Double](1) === Map("x" -> 1.5, "y" -> -2.0))
    assert(back(0).getAs[Array[Byte]](2).toSeq === Seq[Byte](7, 8))
    assert(back(0).getLong(3) === 9L && back(0).getBoolean(4))
    assert(back(0).getSeq[Long](5) === Seq(1L, 2L))
    assert(back(1).getSeq[String](0).isEmpty)
    assert(back(1).isNullAt(5))
  }

  test("stream == batch over the Avro wire: reference 4-user fixture + tombstone") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val clock = Instant.parse("2024-01-01T00:00:00Z")
    val t = ProfileTransform(clock = Some(clock))

    // Encode the reference fixture (producer.py:46-61) through the codec
    // directly — the producer side of the wire.
    val enc = usersDf((0 to 3).map(i =>
        userRow(i, Some(if (i == 2) "" else s"User$i"))))
      .select(to_avro_confluent(col("user"), schema, schemaId = 1).as("b"))
      .collect().map(_.getAs[Array[Byte]](0))
    val ts = Timestamp.from(clock)
    val records = enc.zipWithIndex.map { case (b, i) =>
      KBinRecord(s"id_$i", b, "users", i % 2, i.toLong, ts)
    }.toSeq :+ KBinRecord("id_9", null, "users", 0, 4L, ts) // tombstone

    val stream = MemoryStream[KBinRecord]
    stream.addData(records: _*)
    val transformed = StreamingPipeline.transformed(
      StreamingPipeline.enforceAvro(stream.toDF(), schema), t)
    val q = transformed.writeStream.format("memory").queryName("avro_pipe_out")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("avro_pipe_out").drop("offset").collect().toSet

    val batch = StreamingPipeline.transformed(
      StreamingPipeline.enforceAvro(records.toDF(), schema), t)
      .drop("offset").collect().toSet
    assert(streamed === batch)
    assert(streamed.size === 3) // id_2 blank-name filtered; tombstone not live
    assert(streamed.forall(_.getAs[String]("email") == "redacted@email.com"))
    assert(streamed.map(_.getAs[String]("full_name")) ===
      Set("User0 Doe0", "User1 Doe1", "User3 Doe3"))
  }

  test("stream == batch on a MIXED-WRITER-ID corpus; unknown id routes to " +
      "the DLQ branch (r17, VERDICT r16 #5)") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val v1 = AvroQueries.userSchemaJson
    val v2 = AvroQueries.userV2SchemaJson
    val reg = Map(7 -> v1, 9 -> v2)
    val ts = Timestamp.from(Instant.parse("2024-01-01T00:00:00Z"))

    // two v1-era frames (id 7), one v2-era frame (id 9), one frame whose
    // id (13) no registry map knows, and a tombstone
    val v1Bytes = usersDf(Seq(userRow(0, Some("User0")), userRow(1, Some("User1"))))
      .select(to_avro_confluent(col("user"), v1, 7).as("b"))
      .collect().map(_.getAs[Array[Byte]](0))
    val v2Type = AvroCodec.sparkStructType(v2)
    val v2Bytes = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row(Row("id_2", "u2@example.com",
          22, "User2", "Doe2", "gold", Row("2 St", "City", "00000")))), 1),
        StructType(Seq(StructField("user", v2Type))))
      .select(to_avro_confluent(col("user"), v2, 9).as("b"))
      .collect().map(_.getAs[Array[Byte]](0))
    val unknownBytes = usersDf(Seq(userRow(3, Some("User3"))))
      .select(to_avro_confluent(col("user"), v1, 13).as("b"))
      .collect().map(_.getAs[Array[Byte]](0))
    val frames = v1Bytes ++ v2Bytes ++ unknownBytes
    val records = frames.zipWithIndex.map { case (b, i) =>
      KBinRecord(s"id_$i", b, "users", i % 2, i.toLong, ts)
    }.toSeq :+ KBinRecord("id_9", null, "users", 0, 4L, ts)

    def decodeLive(df: org.apache.spark.sql.DataFrame) =
      StreamingPipeline.enforceAvroRegistry(df, reg, v2, permissive = true)
        .filter(col("v").isNotNull)
        .select(col("key"), col("v.user_id"), col("v.status"), col("v.email"))

    val stream = MemoryStream[KBinRecord]
    stream.addData(records: _*)
    val q = decodeLive(stream.toDF()).writeStream.format("memory")
      .queryName("avro_mixed_out").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("avro_mixed_out").collect().toSet
    val batch = decodeLive(records.toDF()).collect().toSet
    assert(streamed === batch)
    // v1 rows carry the reader-default status, the v2 row its written one;
    // the unknown-id frame and the tombstone are not live
    assert(streamed.map(r => (r.getAs[String]("user_id"),
      r.getAs[String]("status"))) ===
      Set(("id_0", "active"), ("id_1", "active"), ("id_2", "gold")))
    // DLQ branch: exactly the unknown-id frame, its id readable for triage
    val dlq = StreamingPipeline.avroRegistryDeadLetters(records.toDF(), reg, v2)
      .select(col("key"), avro_schema_id(col("value")).as("sid")).collect()
    assert(dlq.map(r => (r.getString(0), r.getInt(1))).toSeq === Seq(("id_3", 13)))
  }

  test("schema evolution: reader adds defaulted field, drops one, survives reorder") {
    // v2 reader: drops internal_tracking_code, adds loyalty_tier with a
    // default, and lists email before last_name (resolution is by name)
    val readerSchema =
      """{
        |  "type": "record", "name": "User", "namespace": "com.dorjee.avro",
        |  "fields": [
        |    {"name": "user_id", "type": "string"},
        |    {"name": "first_name", "type": ["null", "string"], "default": null},
        |    {"name": "email", "type": "string"},
        |    {"name": "last_name", "type": ["null", "string"], "default": null},
        |    {"name": "age", "type": "int"},
        |    {"name": "loyalty_tier", "type": "string", "default": "basic"},
        |    {"name": "address", "type": {"type": "record", "name": "Address",
        |      "fields": [
        |        {"name": "street", "type": "string"},
        |        {"name": "city", "type": "string"},
        |        {"name": "zip_code", "type": "string"}]}}
        |  ]
        |}""".stripMargin
    val out = usersDf(Seq(userRow(4, Some("Evo"))))
      .select(to_avro_confluent(col("user"), schema).as("b"))
      .select(from_avro_evolved(col("b"), schema, readerSchema).as("u"))
      .select(col("u.*"))
      .collect().head
    assert(out.getAs[String]("user_id") === "id_4")
    assert(out.getAs[String]("first_name") === "Evo")
    assert(out.getAs[String]("email") === "user4@example.com")
    assert(out.getAs[Int]("age") === 24)
    assert(out.getAs[String]("loyalty_tier") === "basic") // reader default
    assert(out.schema.fieldNames.contains("loyalty_tier"))
    assert(!out.schema.fieldNames.contains("internal_tracking_code")) // dropped
    assert(out.getAs[Row]("address").getAs[String]("street") === "4 St")
  }

  test("schema evolution: aliased field rename reads old-name data (r15)") {
    // the registry estate's rename move: reader field `years` carries
    // aliases:["age"] — Avro resolution matches it to the writer's
    // `age`, and SchemaCompat agrees it's a compatible read
    val renamed =
      """{
        |  "type": "record", "name": "User", "namespace": "com.dorjee.avro",
        |  "fields": [
        |    {"name": "user_id", "type": "string"},
        |    {"name": "years", "aliases": ["age"], "type": "int"}
        |  ]
        |}""".stripMargin
    assert(graft.avro.SchemaCompat.incompatibilities(renamed, schema).isEmpty,
      "aliased rename must be read-compatible")
    val out = usersDf(Seq(userRow(6, Some("Ali"))))
      .select(to_avro_confluent(col("user"), schema).as("b"))
      .select(from_avro_evolved(col("b"), schema, renamed).as("u"))
      .select(col("u.*")).collect().head
    assert(out.getAs[String]("user_id") === "id_6")
    assert(out.getAs[Int]("years") === 26, "aliased field must carry the old column's value")
  }

  test("evolution pre-flight: an incompatible reader schema fails at ANALYSIS " +
      "time, in permissive mode too (r15)") {
    // reader adds a field WITHOUT a default: Avro resolution cannot fill
    // it, so every record of every task would fail executor-side — and
    // in permissive mode would be silently nulled and dropped. The
    // AvroDecode type check must reject the PLAN with the path named.
    val incompatible =
      """{
        |  "type": "record", "name": "User", "namespace": "com.dorjee.avro",
        |  "fields": [
        |    {"name": "user_id", "type": "string"},
        |    {"name": "required_new_field", "type": "string"}
        |  ]
        |}""".stripMargin
    val framed = usersDf(Seq(userRow(7, Some("Bad"))))
      .select(to_avro_confluent(col("user"), schema).as("b"))
    for (permissive <- Seq(false, true)) {
      val ex = intercept[Exception] {
        framed.select(from_avro_evolved(col("b"), schema, incompatible,
          permissive = permissive).as("u")).collect()
      }
      val msg = ex.getMessage + Option(ex.getCause).map(_.getMessage).mkString
      assert(msg.contains("READER_FIELD_MISSING_DEFAULT_VALUE") ||
        msg.contains("required_new_field"),
        s"expected a named-path analysis failure, got: $msg")
    }
  }

  test("evolution pre-flight: a dropped union branch stays a PER-ROW skip in " +
      "permissive mode, an analysis error in strict (r15 review)") {
    // reader narrows ["null","int","string"] -> ["null","int"]: only the
    // records actually carrying the string branch are unreadable. That
    // is DATA-dependent — exactly what permissive DROPMALFORMED exists
    // for — so the permissive plan must still run and keep the int
    // records; strict fails the plan up front.
    val writer =
      """{"type":"record","name":"V","namespace":"graft","fields":[
        |{"name":"id","type":"long"},
        |{"name":"v","type":["null","int","string"],"default":null}]}""".stripMargin
    val reader =
      """{"type":"record","name":"V","namespace":"graft","fields":[
        |{"name":"id","type":"long"},
        |{"name":"v","type":["null","int"],"default":null}]}""".stripMargin
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    import org.apache.avro.io.EncoderFactory
    val avroSchema = new org.apache.avro.Schema.Parser().parse(writer)
    def frame(id: Long, v: AnyRef): Array[Byte] = {
      val rec = new GenericData.Record(avroSchema)
      rec.put("id", java.lang.Long.valueOf(id)); rec.put("v", v)
      val out = new java.io.ByteArrayOutputStream()
      out.write(Array[Byte](0, 0, 0, 0, 2), 0, 5)
      val enc = EncoderFactory.get().directBinaryEncoder(out, null)
      new GenericDatumWriter[GenericRecord](avroSchema).write(rec, enc)
      enc.flush(); out.toByteArray
    }
    val frames = Seq(
      frame(1L, java.lang.Integer.valueOf(5)),
      frame(2L, new org.apache.avro.util.Utf8("gone")),
      frame(3L, null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(frames.map(Row(_)), 1),
      StructType(Seq(StructField("value", BinaryType))))
    val kept = df
      .select(from_avro_evolved(col("value"), writer, reader, permissive = true).as("r"))
      .filter(col("r").isNotNull)
      .select(col("r.id"), col("r.v")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
    assert(kept === Map(1L -> Some(5), 3L -> None),
      "permissive must keep int/null-branch records and drop only the string-branch row")
    intercept[Exception] {
      df.select(from_avro_evolved(col("value"), writer, reader)).collect()
    }
  }

  test("SchemaCompat: backward/forward/full match the registry's modes (r15)") {
    val base =
      """{"type":"record","name":"R","fields":[{"name":"a","type":"int"}]}"""
    val addDefaulted =
      """{"type":"record","name":"R","fields":[
        |{"name":"a","type":"int"},{"name":"b","type":"string","default":"x"}]}"""
        .stripMargin
    val addRequired =
      """{"type":"record","name":"R","fields":[
        |{"name":"a","type":"int"},{"name":"b","type":"string"}]}""".stripMargin
    val widened =
      """{"type":"record","name":"R","fields":[{"name":"a","type":"long"}]}"""
    import graft.avro.SchemaCompat
    // defaulted add: full-compatible (new reads old via default; old
    // reads new by skipping the unknown field)
    assert(SchemaCompat.checkFull(addDefaulted, base).isEmpty)
    // required add: backward-INcompatible, forward-compatible
    assert(SchemaCompat.checkBackward(addRequired, base).nonEmpty)
    assert(SchemaCompat.checkForward(addRequired, base).isEmpty)
    // int -> long promotion: backward-compatible (long reader reads int
    // data), forward-INcompatible (int reader cannot read long data)
    assert(SchemaCompat.checkBackward(widened, base).isEmpty)
    assert(SchemaCompat.checkForward(widened, base).nonEmpty)
    val msg = SchemaCompat.incompatibilities(addRequired, base).mkString("\n")
    assert(msg.contains("READER_FIELD_MISSING_DEFAULT_VALUE") && msg.contains("b"))
  }

  test("SchemaCompat.totalIncompatibilities gates non-union TYPE_MISMATCH " +
      "but keeps union-branch mismatches permissive-skippable (r15 ADVICE)") {
    import graft.avro.SchemaCompat
    val writer =
      """{"type":"record","name":"R","fields":[
        |{"name":"a","type":"string"},
        |{"name":"u","type":["null","string"],"default":null}]}""".stripMargin
    // reader flips a PLAIN field's type: every record fails resolution —
    // a permissive read would null the whole dataset, so the pre-flight
    // must refuse the plan
    val plainFlip =
      """{"type":"record","name":"R","fields":[
        |{"name":"a","type":"int"},
        |{"name":"u","type":["null","string"],"default":null}]}""".stripMargin
    val total = SchemaCompat.totalIncompatibilities(plainFlip, writer)
    assert(total.exists(_.startsWith("TYPE_MISMATCH")), total.mkString("; "))
    // reader narrows the UNION's data branch: only records carrying that
    // branch fail — data-dependent, exactly what permissive DROPMALFORMED
    // is for, so the pre-flight must NOT gate it
    val unionNarrow =
      """{"type":"record","name":"R","fields":[
        |{"name":"a","type":"string"},
        |{"name":"u","type":["null","int"],"default":null}]}""".stripMargin
    assert(SchemaCompat.incompatibilities(unionNarrow, writer).nonEmpty)
    assert(SchemaCompat.totalIncompatibilities(unionNarrow, writer).isEmpty,
      SchemaCompat.totalIncompatibilities(unionNarrow, writer).mkString("; "))
    // reader union vs writer PLAIN type it lacks: avro still reports
    // MISSING_UNION_BRANCH, but the location carries no branch index and
    // EVERY record (all carry the one concrete writer type) fails — a
    // config error the pre-flight must gate (r16)
    val readerUnionWriterPlain =
      """{"type":"record","name":"R","fields":[
        |{"name":"a","type":["null","int"],"default":null},
        |{"name":"u","type":["null","string"],"default":null}]}""".stripMargin
    val gated = SchemaCompat.totalIncompatibilities(readerUnionWriterPlain, writer)
    assert(gated.exists(_.startsWith("MISSING_UNION_BRANCH")), gated.mkString("; "))
  }

  test("totalIncompatibilities gates FULL-coverage union mismatches but keeps " +
      "partial branch mismatches skippable (r16 ADVICE #1)") {
    import graft.avro.SchemaCompat
    def rec(fields: String) =
      s"""{"type":"record","name":"R","fields":[$fields]}"""
    // reader plain int vs writer ["null","string"]: avro reports the two
    // mismatches branch-indexed (/type/0, /type/1) so the per-entry rule
    // skipped both — yet EVERY record fails whichever branch it carries.
    // The coverage gate must catch it.
    val allBranches = SchemaCompat.totalIncompatibilities(
      rec("""{"name":"f","type":"int"}"""),
      rec("""{"name":"f","type":["null","string"],"default":null}"""))
    assert(allBranches.size == 2 && allBranches.forall(_.startsWith("TYPE_MISMATCH")),
      allBranches.mkString("; "))
    // reader union lacking EVERY writer branch: same total semantics
    // through MISSING_UNION_BRANCH entries
    val lacksAll = SchemaCompat.totalIncompatibilities(
      rec("""{"name":"f","type":["null","int"],"default":null}"""),
      rec("""{"name":"f","type":["string","bytes"]}"""))
    assert(lacksAll.size == 2 && lacksAll.forall(_.startsWith("MISSING_UNION_BRANCH")),
      lacksAll.mkString("; "))
    // PARTIAL coverage stays data-dependent-skippable: reader plain int
    // vs writer ["null","int"] (only null-carrying records fail), and a
    // reader union missing 1 of 3 writer branches
    assert(SchemaCompat.totalIncompatibilities(
      rec("""{"name":"f","type":"int"}"""),
      rec("""{"name":"f","type":["null","int"],"default":null}""")).isEmpty)
    assert(SchemaCompat.totalIncompatibilities(
      rec("""{"name":"f","type":["null","long"],"default":null}"""),
      rec("""{"name":"f","type":["null","int","string"],"default":null}""")).isEmpty)
    // field REORDERING: locations carry reader field indexes, writer
    // union sizes come from the name-matched writer field (probe case J)
    val reordered = SchemaCompat.totalIncompatibilities(
      rec("""{"name":"b","type":"int"},{"name":"a","type":"string"}"""),
      rec("""{"name":"a","type":"string"},{"name":"b","type":["null","string"],"default":null}"""))
    assert(reordered.size == 2, reordered.mkString("; "))
    // nested containers: array items / map values parent paths navigate
    assert(SchemaCompat.totalIncompatibilities(
      rec("""{"name":"a","type":{"type":"array","items":"int"}}"""),
      rec("""{"name":"a","type":{"type":"array","items":["null","string"]}}""")).size == 2)
    assert(SchemaCompat.totalIncompatibilities(
      rec("""{"name":"m","type":{"type":"map","values":"int"}}"""),
      rec("""{"name":"m","type":{"type":"map","values":["null","string"]}}""")).size == 2)
    // a TOTAL mismatch of a union nested INSIDE an enclosing union
    // branch stays skippable: only records carrying the enclosing branch
    // fail — still data-dependent
    val nestedInBranch = SchemaCompat.totalIncompatibilities(
      rec("""{"name":"o","type":["null",{"type":"record","name":"S","fields":[
             {"name":"x","type":"int"}]}],"default":null}"""),
      rec("""{"name":"o","type":["null",{"type":"record","name":"S","fields":[
             {"name":"x","type":["null","string"],"default":null}]}],"default":null}"""))
    assert(nestedInBranch.isEmpty, nestedInBranch.mkString("; "))
  }

  test("totalIncompatibilities gates fixed-size flips and total enum loss; " +
      "partial enum loss and branch-nested variants stay skippable (r17 probe)") {
    import graft.avro.SchemaCompat
    def rec(fields: String) =
      s"""{"type":"record","name":"R","fields":[$fields]}"""
    // fixed(8) reader vs fixed(16) writer: every record fails — a
    // permissive read previously passed pre-flight and nulled the lot
    val fixedFlip = SchemaCompat.totalIncompatibilities(
      rec("""{"name":"f","type":{"type":"fixed","name":"F","size":8}}"""),
      rec("""{"name":"f","type":{"type":"fixed","name":"F","size":16}}"""))
    assert(fixedFlip.size == 1 && fixedFlip.head.startsWith("FIXED_SIZE_MISMATCH"),
      fixedFlip.mkString("; "))
    // reader enum sharing NO writer symbol (no default): total
    val enumAll = SchemaCompat.totalIncompatibilities(
      rec("""{"name":"e","type":{"type":"enum","name":"E","symbols":["A"]}}"""),
      rec("""{"name":"e","type":{"type":"enum","name":"E","symbols":["B","C"]}}"""))
    assert(enumAll.size == 1 && enumAll.head.startsWith("MISSING_ENUM_SYMBOLS"),
      enumAll.mkString("; "))
    // dropping ONE of three symbols: only records carrying it fail
    assert(SchemaCompat.totalIncompatibilities(
      rec("""{"name":"e","type":{"type":"enum","name":"E","symbols":["A","B"]}}"""),
      rec("""{"name":"e","type":{"type":"enum","name":"E","symbols":["A","B","C"]}}""")).isEmpty)
    // an enum DEFAULT absorbs unknown symbols: compatible outright
    assert(SchemaCompat.incompatibilities(
      rec("""{"name":"e","type":{"type":"enum","name":"E","symbols":["A"],"default":"A"}}"""),
      rec("""{"name":"e","type":{"type":"enum","name":"E","symbols":["A","B","C"]}}""")).isEmpty)
    // a fixed flip nested INSIDE a union branch surfaces as that
    // branch's MISSING_UNION_BRANCH — single branch of two, skippable
    assert(SchemaCompat.totalIncompatibilities(
      rec("""{"name":"o","type":["null",{"type":"fixed","name":"F","size":8}],"default":null}"""),
      rec("""{"name":"o","type":["null",{"type":"fixed","name":"F","size":16}],"default":null}""")).isEmpty)
  }

  // ---- per-record writer-schema dispatch (r17, VERDICT r16 #1) -----------

  test("from_avro_registry: mixed writer ids decode in one pass against " +
      "the shared reader") {
    val v1 = AvroQueries.userSchemaJson
    val v2 = AvroQueries.userV2SchemaJson
    val reg = Map(7 -> v1, 9 -> v2)
    val w1 = usersDf(Seq(userRow(1, Some("A")), userRow(2, None)))
      .select(to_avro_confluent(col("user"), v1, 7).as("b"))
    val v2Type = AvroCodec.sparkStructType(v2)
    val v2Rows = Seq(Row(Row("id_3", "u3@example.com", 33, "C", "Doe3",
      "gold", Row("3 St", "City", "00000"))))
    val w2 = spark.createDataFrame(
        spark.sparkContext.parallelize(v2Rows, 1),
        StructType(Seq(StructField("user", v2Type))))
      .select(to_avro_confluent(col("user"), v2, 9).as("b"))
    val out = w1.union(w2)
      .select(avro_schema_id(col("b")).as("sid"),
        from_avro_registry(col("b"), reg, v2).as("u"))
      .select(col("sid"), col("u.user_id"), col("u.status"), col("u.email"))
      .orderBy(col("user_id"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq
    // v1-written rows resolve status to the reader default; the v2 row
    // carries its written value — each record dispatched on its OWN id
    assert(out === Seq((7, "id_1", "active"), (7, "id_2", "active"),
      (9, "id_3", "gold")))
  }

  test("from_avro_registry: unknown id — typed strict error, permissive DLQ row") {
    val reg = Map(7 -> schema)
    val wire = usersDf(Seq(userRow(1, Some("A"))))
      .select(to_avro_confluent(col("user"), schema, 8).as("b")) // 8 unmapped
    val e = intercept[Exception] {
      wire.select(from_avro_registry(col("b"), reg, schema)).collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: chain(t.getCause)
    val unk = chain(e).collectFirst {
      case u: AvroCodec.UnknownSchemaIdException => u }
    assert(unk.isDefined,
      s"expected UnknownSchemaIdException, got ${chain(e).map(_.getClass.getName)}")
    assert(unk.get.id === 8)
    assert(unk.get.getMessage.contains("schema id 8") &&
      unk.get.getMessage.contains("[7]"), unk.get.getMessage)
    // permissive mode nulls the row but leaves the frame id readable —
    // the DLQ branch stays addressable by id
    val dlq = wire
      .filter(col("b").isNotNull &&
        from_avro_registry(col("b"), reg, schema, permissive = true).isNull)
      .select(avro_schema_id(col("b")).as("sid")).as[Int].collect()
    assert(dlq.toSeq === Seq(8))
  }

  test("from_avro_registry: evolution pre-flight names the offending writer id " +
      "(config error even in permissive mode)") {
    // a writer era lacking fields the reader requires without defaults
    // fails EVERY record of that era — the plan must refuse at analysis
    val v0 =
      """{"type":"record","name":"User","namespace":"com.dorjee.avro",
        |"fields":[{"name":"user_id","type":"string"}]}""".stripMargin
    val reg = Map(3 -> v0, 7 -> schema)
    val wire = usersDf(Seq(userRow(1, Some("A"))))
      .select(to_avro_confluent(col("user"), schema, 7).as("b"))
    val e = intercept[Exception] {
      wire.select(from_avro_registry(col("b"), reg, schema,
        permissive = true)).collect()
    }
    assert(e.getMessage.contains("writer id 3") &&
      e.getMessage.contains("READER_FIELD_MISSING_DEFAULT_VALUE"), e.getMessage)
    // the reader CAN read both eras of the real registry pair — sanity
    // that the gate passes the legitimate map (v1 + v2 under v2 reader)
    val okReg = Map(7 -> AvroQueries.userSchemaJson,
      9 -> AvroQueries.userV2SchemaJson)
    val n = wire.select(from_avro_registry(col("b"), okReg,
      AvroQueries.userV2SchemaJson).as("u")).filter(col("u").isNotNull).count()
    assert(n === 1)
  }

  test("from_avro_registry participates in whole-stage codegen (no fallback)") {
    val reg = Map(7 -> schema)
    val df = usersDf(Seq(userRow(0, Some("A"))))
      .select(from_avro_registry(
        to_avro_confluent(col("user"), schema, 7), reg, schema).as("u"))
      .select(col("u.user_id"), col("u.age"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan)
  }

  test("SQL surface: avro functions registered via SparkSessionExtensions") {
    graft.plans.GraftExtensions.register(spark)
    usersDf(Seq(userRow(5, Some("Sql")))).createOrReplaceTempView("avro_users")
    val out = spark.sql(
      s"""SELECT u.user_id AS uid, u.age AS age, avro_schema_id(b) AS sid
         |FROM (SELECT from_avro_confluent(b, '$schema') AS u, b
         |      FROM (SELECT to_avro_confluent(user, '$schema', '9') AS b
         |            FROM avro_users))""".stripMargin).collect()
    assert(out.head.getAs[String]("uid") === "id_5")
    assert(out.head.getAs[Int]("age") === 25)
    assert(out.head.getAs[Int]("sid") === 9)
  }

  test("whole-stage codegen survives the avro expressions (no fallback)") {
    val df = usersDf(Seq(userRow(0, Some("A"))))
      .select(from_avro_confluent(
        to_avro_confluent(col("user"), schema), schema).as("u"))
      .select(col("u.user_id"), col("u.age"))
    // `*(n)` prefixes mark WholeStageCodegen spans in the plan string —
    // the Project holding both avro expressions must carry one.
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("Project") && l.trim.startsWith("+- *(") || l.trim.startsWith("*(")), plan)
    assert(plan.contains("*(1) Project"), plan)
  }

  test("permissive decode fails fast on a malformed SCHEMA (config vs data errors, r13)") {
    // a schema typo is a configuration error: swallowing it per-row
    // would null every record and the malformed-skip filter would
    // silently drop the whole dataset
    intercept[Exception] {
      graft.avro.AvroCodec.decodeEvolved(
        Array[Byte](0, 0, 0, 0, 7, 1), "{not json", "{not json",
        permissive = true)
    }
  }

  test("avro schema derivation rejects short/byte instead of corrupting them (r13)") {
    // the write path's typed getters are avro-type-driven: a silent
    // short->INT mapping zero-extends negative values on disk
    val ex = intercept[UnsupportedOperationException] {
      graft.avro.AvroCodec.avroType(
        org.apache.spark.sql.types.ShortType, nullable = false, "R", "graft")
    }
    assert(ex.getMessage.contains("cast the column to int"))
  }

  // ---- logical types (r15) -------------------------------------------------

  private val logicalSchema = AvroQueries.logicalSchemaJson

  test("logical types: schema -> Spark mapping (date, both timestamps, decimal)") {
    val st = AvroCodec.sparkStructType(logicalSchema)
    assert(st("order_ts").dataType === TimestampType)
    assert(st("order_ts_ms").dataType === TimestampType)
    assert(st("order_date").dataType === DateType)
    assert(st("shipped_ts").dataType === TimestampType)
    assert(st("shipped_ts").nullable)
    assert(st("amount").dataType === DecimalType(18, 2))
  }

  test("logical types: wire round trip incl. negative decimal, pre-1970 ts, null union") {
    val st = AvroCodec.sparkStructType(logicalSchema)
    def ts(s: String) = Timestamp.from(Instant.parse(s))
    val rows = Seq(
      Row(1L, ts("2024-03-01T12:34:56.789012Z"), ts("2024-03-01T12:34:56.789Z"),
        java.sql.Date.valueOf("2024-03-01"), ts("2024-03-03T00:00:00Z"),
        new java.math.BigDecimal("12345.67")),
      // pre-1970: micros negative; millis floor must truncate toward -inf
      Row(2L, ts("1969-12-31T23:59:59.000001Z"), ts("1969-12-31T23:59:59.001Z"),
        java.sql.Date.valueOf("1969-12-31"), null,
        new java.math.BigDecimal("-0.01")),
      Row(3L, ts("1970-01-01T00:00:00Z"), ts("1970-01-01T00:00:00Z"),
        java.sql.Date.valueOf("1970-01-01"), null,
        new java.math.BigDecimal("0.00")))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row(_)), 2),
      StructType(Seq(StructField("ev", st))))
    val back = df
      .select(to_avro_confluent(col("ev"), logicalSchema, schemaId = 9).as("b"))
      .select(from_avro_confluent(col("b"), logicalSchema).as("ev"))
      .select(col("ev.*"))
      .collect().sortBy(_.getLong(0))
    assert(back.length === 3)
    val r1 = back(0)
    assert(r1.getTimestamp(1) === ts("2024-03-01T12:34:56.789012Z"))
    assert(r1.getTimestamp(2) === ts("2024-03-01T12:34:56.789Z"))
    assert(r1.getDate(3) === java.sql.Date.valueOf("2024-03-01"))
    assert(r1.getTimestamp(4) === ts("2024-03-03T00:00:00Z"))
    assert(r1.getDecimal(5) === new java.math.BigDecimal("12345.67"))
    val r2 = back(1)
    assert(r2.getTimestamp(1) === ts("1969-12-31T23:59:59.000001Z"))
    assert(r2.getTimestamp(2) === ts("1969-12-31T23:59:59.001Z"),
      "pre-1970 millis must floor toward -inf, not round toward zero")
    assert(r2.isNullAt(4), "null union branch of a logical-typed field")
    assert(r2.getDecimal(5) === new java.math.BigDecimal("-0.01"),
      "negative decimal two's-complement unscaled bytes")
    assert(back(2).getDecimal(5) === new java.math.BigDecimal("0.00"))
  }

  test("logical types: fixed-backed decimal decodes and sign-extends on encode") {
    val fixedSchema =
      """{"type": "record", "name": "F", "namespace": "graft",
        | "fields": [{"name": "amt", "type": {"type": "fixed", "name": "D8",
        |   "size": 8, "logicalType": "decimal", "precision": 16, "scale": 3}}]}"""
        .stripMargin
    val st = AvroCodec.sparkStructType(fixedSchema)
    assert(st("amt").dataType === DecimalType(16, 3))
    val rows = Seq(Row(new java.math.BigDecimal("1.500")),
      Row(new java.math.BigDecimal("-2.125")))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row(_)), 1),
      StructType(Seq(StructField("ev", st))))
    val back = df
      .select(to_avro_confluent(col("ev"), fixedSchema, schemaId = 3).as("b"))
      .select(from_avro_confluent(col("b"), fixedSchema).as("ev"))
      .select(col("ev.amt")).collect().map(_.getDecimal(0)).toSet
    assert(back === Set(new java.math.BigDecimal("1.500"),
      new java.math.BigDecimal("-2.125")),
      "fixed(8) decimal must sign-extend negative unscaled values")
  }

  // ---- multi-branch unions (r15) -------------------------------------------

  test("multi-branch unions decode to struct-of-branches; numeric pairs widen") {
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    import org.apache.avro.io.EncoderFactory
    val unionJson =
      """{"type": "record", "name": "U", "namespace": "graft", "fields": [
        |  {"name": "id", "type": "long"},
        |  {"name": "v", "type": ["null", "string", "long"], "default": null},
        |  {"name": "n", "type": ["int", "long"]},
        |  {"name": "x", "type": ["float", "double"]}
        |]}""".stripMargin
    // spark-avro convention: v -> struct(member0: string, member1: long),
    // [int,long] -> long, [float,double] -> double
    val st = graft.avro.AvroCodec.sparkStructType(unionJson)
    assert(st("v").dataType === StructType(Seq(
      StructField("member0", StringType), StructField("member1", LongType))))
    assert(st("v").nullable)
    assert(st("n").dataType === LongType)
    assert(st("x").dataType === DoubleType)

    val avroSchema = new org.apache.avro.Schema.Parser().parse(unionJson)
    def frame(id: Long, v: AnyRef, n: AnyRef, x: AnyRef): Array[Byte] = {
      val rec = new GenericData.Record(avroSchema)
      rec.put("id", java.lang.Long.valueOf(id)); rec.put("v", v)
      rec.put("n", n); rec.put("x", x)
      val out = new java.io.ByteArrayOutputStream()
      out.write(Array[Byte](0, 0, 0, 0, 9), 0, 5) // magic + schema id 9
      val enc = EncoderFactory.get().directBinaryEncoder(out, null)
      new GenericDatumWriter[GenericRecord](avroSchema).write(rec, enc)
      enc.flush()
      out.toByteArray
    }
    val frames = Seq(
      frame(1L, new org.apache.avro.util.Utf8("hello"),
        java.lang.Integer.valueOf(5), java.lang.Float.valueOf(1.5f)),
      frame(2L, java.lang.Long.valueOf(77L),
        java.lang.Long.valueOf(6L), java.lang.Double.valueOf(2.25)),
      frame(3L, null, java.lang.Integer.valueOf(7),
        java.lang.Double.valueOf(0.5)))
    val rows = spark.createDataFrame(
      spark.sparkContext.parallelize(frames.map(Row(_)), 1),
      StructType(Seq(StructField("value", BinaryType))))
      .select(from_avro_confluent(col("value"), unionJson).as("r"))
      .select(col("r.*")).collect().sortBy(_.getLong(0))
    val r1 = rows(0)
    assert(r1.getStruct(1).getString(0) === "hello", "string branch -> member0")
    assert(r1.getStruct(1).isNullAt(1))
    assert(r1.getLong(2) === 5L, "int branch widened to long")
    assert(r1.getDouble(3) === 1.5, "float branch widened to double")
    val r2 = rows(1)
    assert(r2.getStruct(1).isNullAt(0))
    assert(r2.getStruct(1).getLong(1) === 77L, "long branch -> member1")
    assert(r2.getLong(2) === 6L)
    assert(r2.getDouble(3) === 2.25)
    assert(rows(2).isNullAt(1), "null branch -> null struct")
    // ENCODE round-trips (r15): struct-of-branches writes the single
    // non-null member's branch; widened numeric slots write the WIDE
    // branch (lossless — the wire branch moves int->long / float->double,
    // the decoded VALUES are identical)
    val reDecoded = spark.createDataFrame(
      spark.sparkContext.parallelize(frames.map(Row(_)), 1),
      StructType(Seq(StructField("value", BinaryType))))
      .select(from_avro_confluent(col("value"), unionJson).as("r"))
      .select(to_avro_confluent(col("r"), unionJson, 9).as("value"))
      .select(from_avro_confluent(col("value"), unionJson).as("r"))
      .select(col("r.*")).collect().sortBy(_.getLong(0))
    assert(reDecoded.map(_.toString).toSeq === rows.map(_.toString).toSeq,
      "multi-branch union encode->decode must be the identity on the " +
        "struct-of-branches rendering")
    // a struct with BOTH members set has no branch choice — loud error,
    // config-class (thrown in permissive mode too: encode has no
    // permissive arm)
    val both = intercept[Exception] {
      spark.range(1).selectExpr("id",
        "named_struct('member0', 's', 'member1', 7L) as v",
        "5L as n", "1.5d as x")
        .select(to_avro_confluent(struct(col("id"), col("v"), col("n"),
          col("x")), unionJson, 9))
        .collect()
    }
    assert(both.getMessage.contains("union") ||
      Option(both.getCause).exists(_.getMessage.contains("union")))
  }

  test("logical types: uuid strings pass through as StringType and round-trip") {
    // uuid is an annotation on string — the columnar rendering is the
    // string itself (spark-avro does the same); pin it so a registry
    // schema carrying uuid fields neither fails nor changes type
    val json =
      """{"type": "record", "name": "U2", "namespace": "graft", "fields": [
        |  {"name": "id", "type": {"type": "string", "logicalType": "uuid"}}
        |]}""".stripMargin
    assert(graft.avro.AvroCodec.sparkStructType(json) ===
      StructType(Seq(StructField("id", StringType, nullable = false))))
    val u = "123e4567-e89b-12d3-a456-426614174000"
    val back = spark.range(1).select(lit(u).as("id"))
      .select(to_avro_confluent(struct(col("id")), json, 3).as("value"))
      .select(from_avro_confluent(col("value"), json).as("r"))
      .select(col("r.id")).head().getString(0)
    assert(back === u)
  }

  test("logical types: avroType derives date/timestamp-micros/decimal schemas") {
    val derived = AvroCodec.avroSchemaJson(StructType(Seq(
      StructField("d", DateType, nullable = false),
      StructField("t", TimestampType, nullable = false),
      StructField("m", DecimalType(18, 2), nullable = true))))
    val st = AvroCodec.sparkStructType(derived)
    assert(st("d").dataType === DateType)
    assert(st("t").dataType === TimestampType)
    assert(st("m").dataType === DecimalType(18, 2))
    assert(st("m").nullable)
  }

  test("logical types: TimestampNTZ <-> local-timestamp-micros/millis round trip") {
    // the testdata parquet columns are NTZ, so this is the flavor a user
    // hits first; wall-clock micros pass through, the millis slot floors
    val ntzJson =
      """{"type": "record", "name": "N", "namespace": "graft", "fields": [
        |  {"name": "id", "type": "long"},
        |  {"name": "lt", "type": {"type": "long", "logicalType": "local-timestamp-micros"}},
        |  {"name": "ltm", "type": {"type": "long", "logicalType": "local-timestamp-millis"}}
        |]}""".stripMargin
    val st = AvroCodec.sparkStructType(ntzJson)
    assert(st("lt").dataType === TimestampNTZType)
    assert(st("ltm").dataType === TimestampNTZType)
    // derive path: NTZ -> local-timestamp-micros
    val derived = AvroCodec.avroSchemaJson(StructType(Seq(
      StructField("x", TimestampNTZType, nullable = false))))
    assert(derived.contains("local-timestamp-micros"))
    val t = java.time.LocalDateTime.parse("2024-03-01T12:34:56.789012")
    val tMs = java.time.LocalDateTime.parse("2024-03-01T12:34:56.789")
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(Row(1L, t, tMs))), 1),
      StructType(Seq(StructField("ev", st))))
    val back = df
      .select(to_avro_confluent(col("ev"), ntzJson, schemaId = 4).as("b"))
      .select(from_avro_confluent(col("b"), ntzJson).as("ev"))
      .select(col("ev.*")).collect().head
    assert(back.getAs[java.time.LocalDateTime]("lt") === t)
    assert(back.getAs[java.time.LocalDateTime]("ltm") === tMs)
  }
}
