package graft

import java.io.{ByteArrayOutputStream, File}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.EncoderFactory
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.ops.ProfileTransform
import graft.queries.AvroQueries
import graft.sources.{GraftSession, KafkaReplay}
import graft.streaming.StreamingPipeline

/** The pipeline's local file writes start no child process. A child JVM
  * runs with a `PATH` that holds only `chmod`, `readlink`, `ls` and
  * `stat` scripts, each of which logs its name and exits 1: the replay
  * → registry decode → SMT → sized JSON sink stream (two batches, then
  * a restart), the OCF streaming sink and a parquet write must all
  * succeed, read back the right rows, and leave the log empty. The stock
  * local filesystem fails here on its first forked `chmod`. */
class NoForkShimSpec extends SuiteTempDirs {

  test("the ingest pipeline, the OCF sink and a parquet write fork no chmod/readlink/ls/stat") {
    val root = new File(suiteTempDir("graft_nofork_shim"))
    val bin = new File(root, "bin"); bin.mkdirs()
    val log = new File(root, "forks.log"); log.createNewFile()
    for (name <- NoForkShimChild.Shimmed) {
      val f = new File(bin, name)
      val script = Seq("#!/bin/sh", "echo \"" + name + " $*\" >> '" + log.getAbsolutePath + "'",
        "exit 1")
      Files.write(f.toPath, script.mkString("", "\n", "\n").getBytes(UTF_8))
      f.setExecutable(true)
    }
    val (code, out) = ForkedJvm.run("1g", root, Seq("PATH" -> bin.getAbsolutePath),
      "graft.NoForkShimChild", new File(root, "work").getAbsolutePath)
    val forks = new String(Files.readAllBytes(log.toPath), UTF_8)
    assert(code === 0, s"child exited $code; forks:\n$forks\ntail:\n${out.takeRight(4000)}")
    val line = out.linesIterator.find(_.startsWith("[nofork]"))
    assert(line.isDefined, s"no [nofork] line; tail:\n${out.takeRight(4000)}")
    val kept = NoForkShimChild.Kept
    assert(line.get === s"[nofork] json=$kept avro=$kept parquet=$kept")
    assert(forks.isEmpty, s"forked:\n$forks")
  }
}

/** The child process of [[NoForkShimSpec]]: `main(workDir)` prints one
  * `[nofork] json=<n> avro=<n> parquet=<n>` line of read-back counts. */
object NoForkShimChild {
  val Shimmed: Seq[String] = Seq("chmod", "readlink", "ls", "stat")
  private val Chunk = 40
  private val Chunks = 3
  /** Records with `idx % 5 == 0` carry a blank first_name: the SMT drops them. */
  val Kept: Int = (0 until Chunk * Chunks).count(_ % 5 != 0)

  private lazy val schema = new Schema.Parser().parse(AvroQueries.userSchemaJson)

  /** Confluent wire frame: magic 0, 4-byte schema id 7, Avro body. */
  private def frame(idx: Int): Array[Byte] = {
    val a = new GenericData.Record(schema.getField("address").schema())
    a.put("street", s"$idx Main St"); a.put("city", "Town"); a.put("zip_code", "00000")
    val r = new GenericData.Record(schema)
    r.put("user_id", s"u$idx")
    r.put("first_name", if (idx % 5 == 0) " " else s"First$idx")
    r.put("last_name", s"Last$idx")
    r.put("email", s"u$idx@example.com")
    r.put("age", 10 + idx % 60)
    r.put("raw_password_hash", "h")
    r.put("internal_tracking_code", "t")
    r.put("address", a)
    val out = new ByteArrayOutputStream()
    out.write(Array[Byte](0, 0, 0, 0, 7))
    val enc = EncoderFactory.get().binaryEncoder(out, null)
    new GenericDatumWriter[GenericRecord](schema).write(r, enc)
    enc.flush()
    out.toByteArray
  }

  def main(args: Array[String]): Unit = {
    val work = args(0)
    def dir(name: String) = new File(work, name).getAbsolutePath
    val spark = GraftSession.configure(
      SparkSession.builder().master("local[2]").appName("nofork-shim"), 2).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val log = dir("log")
    def append(chunk: Int): Unit = KafkaReplay.append(log,
      (chunk * Chunk until (chunk + 1) * Chunk).map(i =>
        KafkaReplay.Record(i % 4, s"u$i".getBytes(UTF_8), frame(i), 1704067200000000L)))
    val registry = Map(7 -> AvroQueries.userSchemaJson)
    def decoded = StreamingPipeline.enforceAvroRegistry(
      StreamingPipeline.replayStream(spark, log), registry, AvroQueries.userSchemaJson)

    // sized JSON sink: two batches in one run, then a restart for the third
    append(0)
    val q = StreamingPipeline.jsonSinkSizedObjects(
      StreamingPipeline.transformed(decoded, ProfileTransform()),
      dir("json"), dir("json_ckpt"), 7,
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(100)).start()
    q.processAllAvailable()
    append(1)
    q.processAllAvailable()
    q.stop()
    append(2)
    StreamingPipeline.jsonSinkSizedObjects(
      StreamingPipeline.transformed(decoded, ProfileTransform()),
      dir("json"), dir("json_ckpt"), 7).start().awaitTermination()
    val json = spark.read.json(dir("json"))

    // OCF streaming sink over the same decoded rows, SMT filter applied
    StreamingPipeline.avroSink(
      decoded.filter(col("v").isNotNull).select("v.*").filter(ProfileTransform().filterPredicate),
      AvroQueries.userSchemaJson, dir("avro"), dir("avro_ckpt"), 16).start().awaitTermination()
    val avro = graft.avro.AvroFiles.read(spark, dir("avro"), AvroQueries.userSchemaJson)

    json.write.parquet(dir("parquet"))
    val parquet = spark.read.parquet(dir("parquet"))
    println(s"[nofork] json=${json.count()} avro=${avro.count()} parquet=${parquet.count()}")
    spark.stop()
  }
}
