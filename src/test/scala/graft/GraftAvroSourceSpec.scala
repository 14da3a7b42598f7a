package graft

import java.nio.file.Files

import graft.avro.AvroFiles
import graft.queries.AvroQueries

/** The `graft-avro` named DSv2 source: stock `spark.read.format(...)`
  * surface over the OCF split reader — schema inference from the writer
  * header, explicit-schema evolution reads, split parallelism, and
  * permissive mode, all equal to the [[AvroFiles.read]] function path.
  */
class GraftAvroSourceSpec extends SparkSpec {

  private val schema = AvroQueries.userSchemaJson
  private val schemaV2 = AvroQueries.userV2SchemaJson

  private def tmp(): String =
    Files.createTempDirectory("graft_avro_dsv2").toString

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

  test("V2 streaming write: per-epoch batch dirs, epoch idempotence, readable archive") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.SQLContext]
    val dir = tmp(); val ckpt = tmp()
    val mem = MemoryStream[(Long, String)]
    def run(): Unit = {
      val q = mem.toDF().toDF("id", "name")
        .writeStream.format("graft-avro")
        .option("path", dir).option("checkpointLocation", ckpt)
        .option("codec", "null")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    mem.addData((1L, "a"), (2L, "b"))
    run()
    mem.addData((3L, "c"))
    run()
    val batchDirs = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .map(_.getName).sorted
    assert(batchDirs.toSeq === Seq("batch=0", "batch=1"))
    // the archive reads back through BOTH surfaces (recursive lookup)
    val viaFormat = spark.read.format("graft-avro").load(dir)
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(viaFormat === Seq((1L, "a"), (2L, "b"), (3L, "c")))
    run() // restart with nothing new: no third batch dir, no duplicates
    assert(spark.read.format("graft-avro").load(dir).count() === 3)
    assert(!new java.io.File(dir).listFiles().exists(_.getName.startsWith("_tmp-")))
  }

  test("V2 streaming write: a fresh-checkpoint rerun over a legacy ledger keeps its data") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.SQLContext]
    // r14: a pre-query-scoping ledger holds BARE epoch ids; a new query
    // (fresh checkpoint => epochs restart at 0) used to match them and
    // silently DROP its first epochs. The epoch-dir rewrite is already
    // idempotent, so bare lines must be ignored (and GC'd), never
    // consulted for a skip.
    val dir = tmp(); val ckpt = tmp()
    new java.io.File(dir).mkdirs()
    val lw = new java.io.FileWriter(new java.io.File(dir, "_epochs"))
    try lw.write("0\n1\n2\n") finally lw.close()
    val mem = MemoryStream[(Long, String)]
    mem.addData((7L, "x"), (8L, "y"))
    val q = mem.toDF().toDF("id", "name")
      .writeStream.format("graft-avro")
      .option("path", dir).option("checkpointLocation", ckpt)
      .option("codec", "null")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.read.format("graft-avro").load(dir)
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(got === Seq((7L, "x"), (8L, "y")),
      s"fresh run's epoch 0 was dropped against a bare legacy ledger line: $got")
    val ledger = {
      val src = scala.io.Source.fromFile(new java.io.File(dir, "_epochs"))
      try src.getLines().map(_.trim).filter(_.nonEmpty).toSet finally src.close()
    }
    assert(ledger.forall(_.contains(':')),
      s"bare legacy lines must be garbage-collected: $ledger")
  }

  test("V2 streaming write: one corrupt ledger line cannot wedge the sink (ADVICE r14)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.SQLContext]
    // a colon-bearing line with a NON-NUMERIC suffix used to throw
    // NumberFormatException inside writeLedger's retention sort —
    // permanently failing every subsequent commit of every query
    val dir = tmp(); val ckpt = tmp()
    new java.io.File(dir).mkdirs()
    val lw = new java.io.FileWriter(new java.io.File(dir, "_epochs"))
    try lw.write("deadquery:not-a-number\nother:3\n") finally lw.close()
    val mem = MemoryStream[(Long, String)]
    mem.addData((1L, "a"))
    val q = mem.toDF().toDF("id", "name")
      .writeStream.format("graft-avro")
      .option("path", dir).option("checkpointLocation", ckpt)
      .option("codec", "null")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.read.format("graft-avro").load(dir).count() === 1)
  }

  test("withArchiveLock serializes same-JVM committers on one archive path (ADVICE r14)") {
    val dir = new org.apache.hadoop.fs.Path(tmp())
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val inside = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxInside = new java.util.concurrent.atomic.AtomicInteger(0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = (1 to 8).map { _ =>
        pool.submit(new Runnable {
          override def run(): Unit =
            graft.avro.AvroTable.withArchiveLock(dir, fs) {
              val n = inside.incrementAndGet()
              maxInside.updateAndGet(m => math.max(m, n))
              Thread.sleep(5)
              inside.decrementAndGet(): Unit
            }
        })
      }
      futures.foreach(_.get())
    } finally pool.shutdown()
    assert(maxInside.get() === 1,
      s"concurrent committers overlapped inside the archive lock (${maxInside.get()})")
    // and the flock file exists for cross-JVM writers on local paths
    assert(new java.io.File(dir.toUri.getPath, "_commit.lock").exists())
  }

  test("V2 streaming write: one task id across two uncommitted epochs keeps both") {
    import graft.avro.AvroTable.{OcfStreamingWrite, OcfStreamingWriterFactory, OcfWriterFactory}
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    import spark.implicits._
    // a continuous-mode task keeps its task id across epochs: epoch 1's
    // writer must not overwrite epoch 0's temp container before the
    // driver has committed epoch 0
    val dir = tmp()
    val factory = OcfWriterFactory(dir, AvroFilesSpec.eventSchemaJson,
      "null", 64000, 0L, new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    def epoch(e: Long, ids: Seq[Long]) = {
      val w = OcfStreamingWriterFactory(factory).createWriter(0, 7L, e)
      ids.foreach(i => w.write(InternalRow(i, UTF8String.fromString(s"n$i"))))
      try w.commit() finally w.close()
    }
    val m0 = epoch(0L, Seq(1L, 2L, 3L))
    val m1 = epoch(1L, Seq(4L, 5L))
    val sink = new OcfStreamingWrite(dir, factory, "q")
    sink.commit(0L, Array(m0))
    sink.commit(1L, Array(m1))
    def ids(batch: String) =
      AvroFilesSpec.containerIds(new java.io.File(dir, batch)).flatten
    assert(ids("batch=0") === Seq(1L, 2L, 3L))
    assert(ids("batch=1") === Seq(4L, 5L))
    assert(spark.read.format("graft-avro").load(dir).as[(Long, String)]
      .collect().map(_._1).sorted.toSeq === (1L to 5L))
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
