package graft

import java.nio.file.Files

import graft.avro.AvroFiles
import graft.queries.AvroQueries

/** The `graft-avro` named DSv2 source, the library's one OCF reader
  * (and [[AvroFiles.read]] underneath): stock `spark.read.format(...)`
  * surface over the sync-marker split reader — schema inference from
  * the writer header, explicit-schema evolution reads (aliased renames,
  * defaults), split parallelism, column pruning, permissive mode, and
  * read-option validation.
  */
class GraftAvroSourceSpec extends SparkSpec {

  private val schema = AvroQueries.userSchemaJson
  private val schemaV2 = AvroQueries.userV2SchemaJson

  private def tmp(): String =
    suiteTempDir("graft_avro_dsv2")

  private def usersDf(n: Int, partitions: Int) = {
    import org.apache.spark.sql.Row
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

  test("format(graft-avro) infers the writer schema and reads losslessly") {
    val df = usersDf(20, 3)
    val dir = tmp()
    AvroFiles.write(df, schema, dir)
    val back = spark.read.format("graft-avro").load(dir)
    assert(back.schema === df.schema) // inferred from the container header
    assert(back.collect().map(_.toString).sorted.toSeq ===
      df.collect().map(_.toString).sorted.toSeq)
    // equal to the function-surface read
    assert(back.collect().map(_.toString).sorted.toSeq ===
      AvroFiles.read(spark, dir, schema).collect().map(_.toString).sorted.toSeq)
  }

  test("avroSchema option drives the schema-evolution read") {
    val dir = tmp()
    AvroFiles.write(usersDf(10, 2), schema, dir)
    val evolved = spark.read.format("graft-avro")
      .option("avroSchema", schemaV2).load(dir)
    assert(evolved.schema.fieldNames.toSeq === Seq(
      "user_id", "email", "age", "first_name", "last_name", "status", "address"))
    assert(evolved.count() === 10)
    assert(evolved.select("status").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("active"))
    // an aliased rename (writer `email` -> reader `contact`) and a
    // defaulted bytes-decimal (" " = 0x20 = 32 -> 0.32 at scale 2) both
    // resolve through the pruned scan
    val renamed =
      """{"type": "record", "name": "User", "namespace": "com.dorjee.avro",
        |  "fields": [
        |    {"name": "user_id", "type": "string"},
        |    {"name": "contact", "type": "string", "aliases": ["email"]},
        |    {"name": "fee", "type": {"type": "bytes", "logicalType": "decimal",
        |      "precision": 4, "scale": 2}, "default": " "}]}""".stripMargin
    val rows = spark.read.format("graft-avro").option("avroSchema", renamed)
      .load(dir).select("user_id", "contact", "fee").collect()
    assert(rows.length === 10)
    assert(rows.forall(r => r.getString(1) == s"u${r.getString(0).stripPrefix("id_")}@example.com"))
    assert(rows.forall(_.getDecimal(2).toPlainString == "0.32"))
  }

  test("user-supplied .schema(...) is honored over the header probe (r13 review)") {
    val dir = tmp()
    AvroFiles.write(usersDf(6, 1), schema, dir)
    // a reader schema narrowed to a top-level subset, passed as a SPARK
    // schema (not the avroSchema option): pre-r13 the header probe won
    // the orElse chain and the user's schema was silently ignored
    val narrowed = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("age",
        org.apache.spark.sql.types.IntegerType, nullable = false)))
    val got = spark.read.format("graft-avro").schema(narrowed).load(dir)
    assert(got.schema.fieldNames.toSeq === Seq("user_id", "age"),
      s"user schema ignored: ${got.schema.fieldNames.toSeq}")
    assert(got.count() === 6)
  }

  test("planner and schema probe skip in-flight _tmp- spools (r13 review)") {
    val dir = tmp()
    AvroFiles.write(usersDf(6, 1), schema, dir)
    // simulate a hard-crashed task's orphaned spool: garbage bytes under
    // the writer's temp prefix — strict reads must not see it
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_tmp-part-00099-7.avro"),
      Array.fill[Byte](64)(0x5a))
    assert(spark.read.format("graft-avro").load(dir).count() === 6,
      "orphaned _tmp- spool leaked into the strict scan")
  }

  test("splitBytes option fans one container across multiple input partitions") {
    val dir = tmp()
    AvroFiles.write(usersDf(4000, 1), schema, dir, codec = "null",
      syncIntervalBytes = 1024)
    val len = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".avro")).head.length()
    val back = spark.read.format("graft-avro")
      .option("splitBytes", (len / 8 + 1).toString).load(dir)
    assert(back.rdd.getNumPartitions >= 4, "expected split fan-out")
    assert(back.count() === 4000)
    assert(back.select("user_id").distinct().count() === 4000)
    // a malformed value fails naming the option, not with a bare
    // NumberFormatException
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft-avro").option("splitBytes", "x").load(dir).count()
    }
    assert(e.getMessage.contains("splitBytes"), e.getMessage)
  }

  test("column pruning reaches the scan: only required fields decode") {
    val dir = tmp()
    AvroFiles.write(usersDf(30, 2), schema, dir)
    val df = spark.read.format("graft-avro").load(dir)
      .select("user_id", "age")
    // the V2 pushdown pruned the scan itself, not just a projection above it
    val scanLine = df.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("graft-avro")).get
    assert(scanLine.contains("ReadSchema: [user_id,age]"),
      s"scan must carry the pruned schema: $scanLine")
    val rows = df.collect().map(r => (r.getString(0), r.getInt(1))).sortBy(_._1)
    assert(rows.length === 30)
    assert(rows.forall { case (id, age) => id.startsWith("id_") && age >= 20 })
    // degenerate prune: count(*) decodes zero fields but counts every record
    assert(spark.read.format("graft-avro").load(dir).count() === 30)
  }

  test("permissive option skips garbage containers; strict fails") {
    val dir = tmp()
    AvroFiles.write(usersDf(10, 1), schema, dir, codec = "null")
    Files.write(java.nio.file.Paths.get(dir, "garbage.avro"), "not avro".getBytes)
    intercept[org.apache.spark.SparkException] {
      spark.read.format("graft-avro").load(dir).count()
    }
    assert(spark.read.format("graft-avro")
      .option("permissive", "true").load(dir).count() === 10)
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft-avro").option("permissive", "yes").load(dir).count()
    }
    assert(e.getMessage.contains("permissive"), e.getMessage)
  }

  test("V2 batch write: save/overwrite/append round-trip with a derived schema") {
    import spark.implicits._
    val dir = tmp()
    val df = Seq((1L, "a", Some(10)), (2L, "b", None), (3L, "c", Some(30)))
      .toDF("id", "name", "score")
    // no avroSchema option: the writer derives one from the DataFrame
    df.write.format("graft-avro").mode("overwrite").save(dir)
    val back = spark.read.format("graft-avro").load(dir)
      .as[(Long, String, Option[Int])].collect().sortBy(_._1).toSeq
    assert(back === Seq((1L, "a", Some(10)), (2L, "b", None), (3L, "c", Some(30))))
    // append adds; overwrite replaces
    Seq((4L, "d", Some(40))).toDF("id", "name", "score")
      .write.format("graft-avro").mode("append").save(dir)
    assert(spark.read.format("graft-avro").load(dir).count() === 4)
    Seq((9L, "z", Some(90))).toDF("id", "name", "score")
      .write.format("graft-avro").mode("overwrite").save(dir)
    val after = spark.read.format("graft-avro").load(dir)
      .as[(Long, String, Option[Int])].collect().toSeq
    assert(after === Seq((9L, "z", Some(90))))
    // no temp debris
    assert(!new java.io.File(dir).listFiles().exists(_.getName.startsWith("_tmp-")))
  }

  test("V2 batch write: maxRecordsPerFile rolls containers within each task") {
    import spark.implicits._
    val dir = tmp()
    // three partitions of 7, 3 and 12 rows; ids carry their partition
    val sizes = Seq(7, 3, 12)
    val df = spark.sparkContext.parallelize(sizes.indices, 3)
      .flatMap(p => (0 until sizes(p)).map(i => (p * 100L + i, s"p$p-$i")))
      .toDF("id", "name")
    df.write.format("graft-avro").mode("overwrite")
      .option("maxRecordsPerFile", 5L).save(dir)
    val containers = AvroFilesSpec.containerIds(new java.io.File(dir))
    // ceil(7/5) + ceil(3/5) + ceil(12/5) = 2 + 1 + 3
    assert(containers.size === 6, containers)
    assert(containers.forall(c => c.nonEmpty && c.size <= 5), containers)
    assert(containers.forall(_.map(_ / 100).distinct.size == 1), containers)
    val back = spark.read.format("graft-avro").load(dir)
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(back === df.as[(Long, String)].collect().sortBy(_._1).toSeq)
    assert(!new java.io.File(dir).listFiles().exists(_.getName.startsWith("_tmp-")))
  }

  test("V2 write: a non-numeric maxRecordsPerFile fails naming the option") {
    import spark.implicits._
    val e = intercept[IllegalArgumentException] {
      Seq((1L, "a")).toDF("id", "name").write.format("graft-avro")
        .mode("overwrite").option("maxRecordsPerFile", "ten").save(tmp())
    }
    assert(e.getMessage.contains("maxRecordsPerFile"), e.getMessage)
  }

  test("V2 write interoperates with the function surface and nested structs") {
    val dir = tmp()
    val df = usersDf(25, 3)
    df.write.format("graft-avro").mode("overwrite")
      .option("avroSchema", schema).option("codec", "null").save(dir)
    // readable by AvroFiles.read under the SAME wire schema
    val viaFn = AvroFiles.read(spark, dir, schema)
      .collect().map(_.toString).sorted.toSeq
    assert(viaFn === df.collect().map(_.toString).sorted.toSeq)
  }

  test("empty/absent paths fail with a clear message unless a schema is given") {
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft-avro").load(tmp())
    }
    assert(e.getMessage.contains("avroSchema"))
    // explicit schema on an empty dir: valid, empty result
    assert(spark.read.format("graft-avro")
      .option("avroSchema", schema).load(tmp()).count() === 0)
  }
}
