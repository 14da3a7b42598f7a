package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.avro.AvroFiles
import graft.queries.AvroQueries

/** Top-level (encoder requirement) fixture row for the streaming sink. */
case class OcfEvent(id: Long, name: String)

object AvroFilesSpec {
  val eventSchemaJson: String =
    """{"type": "record", "name": "E", "fields": [
      |  {"name": "id", "type": "long"},
      |  {"name": "name", "type": "string"}]}""".stripMargin

  /** The `id` values of every `*.avro` container directly under `dir`,
    * one sequence per container (in file-name order). */
  def containerIds(dir: java.io.File): Seq[Seq[Long]] =
    Option(dir.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(_.getName.endsWith(".avro")).sortBy(_.getName).toSeq.map { f =>
        val r = org.apache.avro.file.DataFileReader.openReader(f,
          new org.apache.avro.generic.GenericDatumReader[
            org.apache.avro.generic.GenericRecord]())
        try {
          val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
          while (r.hasNext) ids += r.next().get("id").asInstanceOf[Long]
          ids.toSeq
        } finally r.close()
      }
}

/** The Avro Object Container File source/sink: round trip, codec
  * parity, schema-evolution reads, empty-partition handling, and the
  * per-batch streaming sink.
  */
class AvroFilesSpec extends SparkSpec {

  private val schema = AvroQueries.userSchemaJson
  private val schemaV2 = AvroQueries.userV2SchemaJson

  private def tmp(): String =
    suiteTempDir("graft_ocf_spec")

  private def usersDf(n: Int, partitions: Int) = {
    val rows = (0 until n).map { i =>
      Row(s"id_$i",
        if (i % 3 == 0) null else s"First$i",
        s"Last$i", s"u$i@example.com", 20 + i, s"hash$i", s"TRACK_$i",
        Row(s"$i St", "City", f"$i%05d"))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, partitions),
      graft.avro.AvroCodec.sparkStructType(schema))
  }

  test("OCF round trip preserves every field including null unions") {
    val df = usersDf(20, 3)
    val dir = tmp()
    AvroFiles.write(df, schema, dir)
    val back = AvroFiles.read(spark, dir, schema)
    assert(back.count() === 20)
    assert(back.schema === df.schema)
    val a = df.collect().map(_.toString).sorted.toSeq
    val b = back.collect().map(_.toString).sorted.toSeq
    assert(a === b)
  }

  test("one container file per non-empty partition; empty partitions skipped") {
    val df = usersDf(4, 8) // 8 slices over 4 rows -> some empty
    val dir = tmp()
    AvroFiles.write(df, schema, dir, codec = "null")
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".avro"))
    assert(files.nonEmpty && files.length <= 4)
    assert(AvroFiles.read(spark, dir, schema).count() === 4)
  }

  test("deflate, zstandard and null codecs read back identically") {
    val df = usersDf(15, 2)
    val d1 = tmp(); val d2 = tmp(); val d3 = tmp()
    AvroFiles.write(df, schema, d1, codec = "deflate")
    AvroFiles.write(df, schema, d2, codec = "null")
    AvroFiles.write(df, schema, d3, codec = "zstandard")
    val a = AvroFiles.read(spark, d1, schema).collect().map(_.toString).sorted.toSeq
    val b = AvroFiles.read(spark, d2, schema).collect().map(_.toString).sorted.toSeq
    val c = AvroFiles.read(spark, d3, schema).collect().map(_.toString).sorted.toSeq
    assert(a === b)
    assert(a === c)
  }

  test("write replaces stale files from a previous layout") {
    val dir = tmp()
    AvroFiles.write(usersDf(20, 5), schema, dir) // up to 5 part files
    AvroFiles.write(usersDf(6, 1), schema, dir)  // 1 part file
    assert(AvroFiles.read(spark, dir, schema).count() === 6)
  }

  test("schema-evolution read: defaults filled, drops skipped, fields name-matched") {
    val df = usersDf(10, 2)
    val dir = tmp()
    AvroFiles.write(df, schema, dir)
    val evolved = AvroFiles.read(spark, dir, schemaV2)
    assert(evolved.schema.fieldNames.toSeq === Seq(
      "user_id", "email", "age", "first_name", "last_name", "status", "address"))
    val rows = evolved.orderBy(col("user_id")).collect()
    assert(rows.length === 10)
    assert(rows.forall(_.getString(5) === "active"))
    val r0 = rows.find(_.getString(0) == "id_1").get
    assert(r0.getString(1) === "u1@example.com")
    assert(r0.getInt(2) === 21)
    assert(r0.getString(3) === "First1")
    // null-union branch still resolves through evolution
    assert(rows.find(_.getString(0) == "id_0").get.isNullAt(3))
  }

  test("permissive read skips corrupt files and salvages a corrupt tail; strict read fails") {
    val df = usersDf(10, 1)
    val dir = tmp()
    AvroFiles.write(df, schema, dir, codec = "null")
    // a file that is not an Avro container at all
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "garbage.avro"), "not avro".getBytes)
    // a valid file truncated mid-body: header survives, tail breaks
    val good = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).head
    val bytes = java.nio.file.Files.readAllBytes(good.toPath)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "truncated.avro"),
      java.util.Arrays.copyOf(bytes, bytes.length - 7))
    intercept[org.apache.spark.SparkException] {
      AvroFiles.read(spark, dir, schema).count()
    }
    val n = AvroFiles.read(spark, dir, schema, permissive = true).count()
    // all 10 intact rows + whatever the truncated copy salvages (>= 0)
    assert(n >= 10 && n < 20)
  }

  test("permissive skips are COUNTED: corrupt-header and mid-stream decode metrics") {
    val df = usersDf(10, 1)
    val dir = tmp()
    AvroFiles.write(df, schema, dir, codec = "null")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "garbage.avro"), "not avro".getBytes)
    // a copy whose last record's data is scribbled over: the header and
    // earlier records survive, the decode of the tail throws — the
    // OBSERVABLE mid-stream corruption (a truncated tail merely ends the
    // avro block stream early, which the reader reports as clean EOF)
    val good = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).head
    val bytes = java.nio.file.Files.readAllBytes(good.toPath)
    for (i <- bytes.length - 40 until bytes.length - 32) bytes(i) = 0xFF.toByte
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "scribbled.avro"), bytes)
    val back = AvroFiles.read(spark, dir, schema, permissive = true)
    // an action on `back` itself, so its own executed plan holds the
    // scan whose metrics filled (`back.count()` would plan a new query)
    val n = back.collect().length
    assert(n >= 10 && n < 20) // intact file + salvaged prefix of the copy
    val scan = graft.tools.ShuffleAudit.flatten(back.queryExecution.executedPlan)
      .collectFirst { case s: BatchScanExec => s }
      .getOrElse(fail("no BatchScanExec in the executed plan"))
    assert(scan.metrics("corruptHeaderFiles").value === 1L, "garbage.avro should be counted")
    assert(scan.metrics("truncatedFiles").value === 1L, "scribbled.avro should be counted")
  }

  test("sync-marker splits: one large container reads through MANY tasks, losslessly") {
    val dir = tmp()
    // one single-partition container with a small sync interval so it
    // carries many blocks (~1 KiB apart) — the shape of an oversized
    // archival object, at test scale
    val df = usersDf(4000, 1)
    AvroFiles.write(df, schema, dir, codec = "null", syncIntervalBytes = 1024)
    val len = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".avro")).head.length()
    val splitBytes = len / 8 + 1 // force ~8 ranges over the one file
    val conf = spark.sparkContext.hadoopConfiguration
    val bins = AvroFiles.planSplits(conf, dir, splitBytes)
    assert(bins.map(_.size).sum >= 4, s"expected multiple splits, got $bins")
    assert(bins.flatten.map(_.length).sum === len, "splits must tile the file")
    val back = AvroFiles.read(spark, dir, schema, splitBytes = splitBytes)
    // every block decoded by exactly one task: no loss, no double-read
    assert(back.count() === 4000)
    assert(back.select("user_id").distinct().count() === 4000)
    // and the task count actually fanned out (parallelism beyond file granularity)
    assert(AvroFiles.planSplits(conf, dir, splitBytes).size >= 4)
    // boundary sanity at a pathological split size: 1-byte-over ranges
    assert(AvroFiles.read(spark, dir, schema, splitBytes = len - 1).count() === 4000)
  }

  test("streaming OCF sink: per-batch subdirs, sized objects, lossless read-back") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.SQLContext]
    val out = tmp(); val ckpt = tmp()
    val mem = MemoryStream[OcfEvent]
    def run(): Unit = graft.streaming.StreamingPipeline
      .avroSink(mem.toDF().filter(col("name") =!= "drop"),
        AvroFilesSpec.eventSchemaJson, out, ckpt, recordsPerObject = 2)
      .start().awaitTermination()
    def batchDirs(): Seq[String] = new java.io.File(out).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    def readBack(): Seq[OcfEvent] =
      AvroFiles.read(spark, out, AvroFilesSpec.eventSchemaJson)
        .as[OcfEvent].collect().sortBy(_.id).toSeq
    mem.addData((1L to 4L).map(i => OcfEvent(i, s"n$i")): _*)
    run()
    // replay batch 0 under its own id, as after a crash before its
    // commit: it rewrites batch=0/ instead of adding a second copy
    assert(new java.io.File(ckpt, "commits/0").delete(), "no commits/0")
    new java.io.File(ckpt, "commits/.0.crc").delete()
    run()
    assert(batchDirs() === Seq("batch=0"))
    assert(readBack() === (1L to 4L).map(i => OcfEvent(i, s"n$i")))
    mem.addData(OcfEvent(5L, "n5"))
    run()
    assert(batchDirs() === Seq("batch=0", "batch=1"))
    val files0 = new java.io.File(out, "batch=0").listFiles()
      .filter(_.getName.endsWith(".avro"))
    assert(files0.length === 2) // 4 rows at recordsPerObject=2
    assert(readBack() === (1L to 5L).map(i => OcfEvent(i, s"n$i")))
    // a multi-partition batch: one MemoryStream block per partition
    // (3, 1 and 5 rows) -> every task rolls its own container series,
    // ceil(3/2) + ceil(1/2) + ceil(5/2) = 6 containers of <= 2 records,
    // each holding one partition's rows
    val blocks = Seq(10L to 12L, 20L to 20L, 30L to 34L)
    blocks.foreach(b => mem.addData(b.map(i => OcfEvent(i, s"n$i")): _*))
    run()
    val sized = AvroFilesSpec.containerIds(new java.io.File(out, "batch=2"))
    assert(sized.size === 6, sized)
    assert(sized.forall(_.size <= 2), sized)
    assert(sized.forall(ids => ids.map(_ / 10).distinct.size == 1), sized)
    // a batch whose rows are all filtered out adds no container rows
    mem.addData(OcfEvent(40L, "drop"), OcfEvent(41L, "drop"))
    run()
    val expected = ((1L to 5L) ++ blocks.flatten).map(i => OcfEvent(i, s"n$i"))
    assert(readBack() === expected)
    assert(AvroFilesSpec.containerIds(new java.io.File(out, "batch=3"))
      .forall(_.isEmpty))
    // restart with nothing new: no new batch dir, no duplicate rows
    val before = batchDirs()
    run()
    assert(batchDirs() === before)
    assert(readBack() === expected)
    assert(!new java.io.File(out).listFiles().exists(_.getName.startsWith("_tmp-")))
    // the named source reads the same archive back
    assert(spark.read.format("graft-avro").load(out).as[OcfEvent]
      .collect().sortBy(_.id).toSeq === expected)
    // a fresh checkpoint over a dead run's root: batch=9/ lies above the
    // new run's batch 0 and goes; the non-numeric batch=x/ stays
    val root = tmp(); val ckpt2 = tmp()
    def events(ids: Long*) = ids.map(i => OcfEvent(i, s"n$i")).toDF()
    AvroFiles.write(events(90L), AvroFilesSpec.eventSchemaJson, s"$root/batch=9")
    AvroFiles.write(events(91L), AvroFilesSpec.eventSchemaJson, s"$root/batch=x")
    val mem2 = MemoryStream[OcfEvent]
    mem2.addData(OcfEvent(1L, "n1"))
    graft.streaming.StreamingPipeline
      .avroSink(mem2.toDF(), AvroFilesSpec.eventSchemaJson, root, ckpt2)
      .start().awaitTermination()
    assert(new java.io.File(root).listFiles().filter(_.isDirectory)
      .map(_.getName).sorted.toSeq === Seq("batch=0", "batch=x"))
    assert(AvroFiles.read(spark, root, AvroFilesSpec.eventSchemaJson)
      .as[OcfEvent].collect().map(_.id).sorted.toSeq === Seq(1L, 91L))
  }

  test("streaming OCF sink: recordsPerObject 0 is unsized, negative is rejected") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.SQLContext]
    val out = tmp(); val ckpt = tmp()
    val mem = MemoryStream[OcfEvent]
    val e = intercept[IllegalArgumentException] {
      graft.streaming.StreamingPipeline.avroSink(mem.toDF(),
        AvroFilesSpec.eventSchemaJson, out, ckpt, recordsPerObject = -1)
    }
    assert(e.getMessage.contains("recordsPerObject"))
    mem.addData((1L to 5L).map(i => OcfEvent(i, s"n$i")): _*)
    graft.streaming.StreamingPipeline.avroSink(mem.toDF(),
        AvroFilesSpec.eventSchemaJson, out, ckpt)
      .start().awaitTermination()
    // one block -> one task -> one container holding all five rows
    assert(AvroFilesSpec.containerIds(new java.io.File(out, "batch=0"))
      .map(_.size) === Seq(5))
  }

  test("registry OCF queries run and agree with the wire-path fixture") {
    val fileRt = AvroQueries.avroFileRoundtrip(spark, sf)
    val wireRt = AvroQueries.avroRoundtrip(spark, sf).drop("schema_id")
    assert(fileRt.count() > 0)
    assert(fileRt.exceptAll(wireRt).isEmpty && wireRt.exceptAll(fileRt).isEmpty)
    val evo = AvroQueries.avroFileEvolution(spark, sf)
    assert(evo.count() === fileRt.count())
    assert(evo.select("status").distinct().collect().map(_.getString(0)).toSeq === Seq("active"))
  }

  // ---- logical types through the OCF/DSv2 surface (r15 verdict ask #6) ----

  private val ltSchemaJson: String =
    """{"type":"record","name":"LT","namespace":"graft.test","fields":[
      |  {"name":"id","type":"long"},
      |  {"name":"d","type":{"type":"int","logicalType":"date"}},
      |  {"name":"ts","type":{"type":"long","logicalType":"timestamp-micros"}},
      |  {"name":"tsm","type":{"type":"long","logicalType":"timestamp-millis"}},
      |  {"name":"amt","type":{"type":"bytes","logicalType":"decimal","precision":10,"scale":2}},
      |  {"name":"famt","type":{"type":"fixed","name":"F8","size":8,"logicalType":"decimal","precision":12,"scale":3}},
      |  {"name":"u","type":["null",{"type":"int","logicalType":"date"},"string"],"default":null},
      |  {"name":"du","type":["null","long",{"type":"bytes","logicalType":"decimal","precision":6,"scale":2}],"default":null}
      |]}""".stripMargin

  private def ltDf(n: Int) = {
    import java.sql.{Date, Timestamp}
    val epochDay = java.time.LocalDate.of(2024, 3, 1)
    val rows = (0 until n).map { i =>
      val inst = java.time.Instant.parse("2024-03-01T00:00:00Z")
        .plusSeconds(i * 3600L)
      Row(i.toLong,
        Date.valueOf(epochDay.plusDays(i.toLong)),
        Timestamp.from(inst.plusNanos(123456000L)), // micros survive
        Timestamp.from(inst), // whole-ms so the millis slot is lossless
        new java.math.BigDecimal(s"${i * 7}.25"),
        new java.math.BigDecimal(s"-${i}.125"),
        // union branches alternate: date / string / null
        if (i % 3 == 0) Row(Date.valueOf(epochDay.plusDays(i.toLong)), null)
        else if (i % 3 == 1) Row(null, s"alt_$i")
        else null,
        // decimal-in-union alternates with the long branch
        if (i % 2 == 0) Row(null, new java.math.BigDecimal(s"$i.50"))
        else Row(i.toLong * 100L, null))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2),
      graft.avro.AvroCodec.sparkStructType(ltSchemaJson))
  }

  test("logical types (date/ts-micros/ts-millis/decimal bytes+fixed) and " +
      "logical-typed union branches round-trip through OCF + DSv2 (r16)") {
    import org.apache.spark.sql.types._
    val st = graft.avro.AvroCodec.sparkStructType(ltSchemaJson)
    // the mapping itself: logical types land on the typed Spark columns,
    // and a union with a logical-typed branch is struct-of-branches (the
    // raw-number widening must NOT strip the date semantics)
    assert(st("d").dataType === DateType)
    assert(st("ts").dataType === TimestampType)
    assert(st("tsm").dataType === TimestampType)
    assert(st("amt").dataType === DecimalType(10, 2))
    assert(st("famt").dataType === DecimalType(12, 3))
    assert(st("u").dataType === StructType(Seq(
      StructField("member0", DateType, nullable = true),
      StructField("member1", StringType, nullable = true))))
    assert(st("du").dataType === StructType(Seq(
      StructField("member0", LongType, nullable = true),
      StructField("member1", DecimalType(6, 2), nullable = true))))
    val df = ltDf(12)
    val dir = tmp()
    AvroFiles.write(df, ltSchemaJson, dir)
    val back = AvroFiles.read(spark, dir, ltSchemaJson)
    assert(back.count() === 12)
    assert(back.schema === df.schema)
    assert(back.collect().map(_.toString).sorted.toSeq ===
      df.collect().map(_.toString).sorted.toSeq)
    // the named DSv2 source infers the same types from the writer schema
    val dsv2 = spark.read.format("graft-avro").load(dir)
    assert(dsv2.schema === df.schema)
    assert(dsv2.collect().map(_.toString).sorted.toSeq ===
      df.collect().map(_.toString).sorted.toSeq)
  }

  test("[int,long] with a date branch renders struct-of-branches, not a " +
      "widened long (r16)") {
    import org.apache.spark.sql.types._
    val s =
      """{"type":"record","name":"W","fields":[
        |  {"name":"wd","type":[{"type":"int","logicalType":"date"},"long"]},
        |  {"name":"wn","type":["int","long"]}
        |]}""".stripMargin
    val st = graft.avro.AvroCodec.sparkStructType(s)
    assert(st("wd").dataType === StructType(Seq(
      StructField("member0", DateType, nullable = true),
      StructField("member1", LongType, nullable = true))))
    assert(st("wn").dataType === LongType) // raw numbers still widen
  }

  test("evolution read fills DEFAULTS on logical-typed fields (r16)") {
    // writer = the logical-types fixture; reader adds a defaulted date
    // and a defaulted bytes-decimal (Avro bytes defaults are ISO-8859-1
    // strings of the unscaled big-endian body — " " = 0x20 = 32 → 0.32 at scale 2)
    val readerJson =
      """{"type":"record","name":"LT","namespace":"graft.test","fields":[
        |  {"name":"id","type":"long"},
        |  {"name":"d","type":{"type":"int","logicalType":"date"}},
        |  {"name":"since","type":{"type":"int","logicalType":"date"},"default":0},
        |  {"name":"fee","type":{"type":"bytes","logicalType":"decimal","precision":4,"scale":2},"default":" "}
        |]}""".stripMargin
    val df = ltDf(6)
    val dir = tmp()
    AvroFiles.write(df, ltSchemaJson, dir)
    val evolved = AvroFiles.read(spark, dir, readerJson)
      .orderBy(col("id")).collect()
    assert(evolved.length === 6)
    // the carried-over date survives; the defaulted date is epoch day 0
    assert(evolved.head.getDate(1).toString === "2024-03-01")
    assert(evolved.forall(_.getDate(2).toString === "1970-01-01"))
    assert(evolved.forall(_.getDecimal(3).toPlainString === "0.32"))
  }
}
