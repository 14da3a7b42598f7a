package graft.avro

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.avro.file.{DataFileConstants, DataFileWriter}
import org.apache.avro.generic.{GenericDatumWriter, GenericRecord}

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** `graft-avro`: the OCF source as a named DataSource-V2 table, so a
  * library user reads Avro archives with the stock API —
  * `spark.read.format("graft-avro").load(dir)`. It is the library's only
  * OCF reader: [[AvroFiles.read]] is this scan with the `avroSchema`,
  * `permissive` and `splitBytes` options.
  *
  *  - schema inference from the first container's writer schema (the
  *    header carries it; metadata-only probe), or an explicit
  *    `avroSchema` option for schema-evolution reads (reader-added
  *    fields default, writer-only fields drop, fields match by name);
  *  - sync-marker byte-range split planning ([[AvroFiles.planSplits]])
  *    — one task group per ~`splitBytes` (default 128 MiB), so a
  *    multi-GiB archival object parallelizes and small files bin-pack;
  *  - `permissive` option for the lake-robustness mode (corrupt-header
  *    files skipped, corrupt tails salvaged), its skips reported as the
  *    scan's `corruptHeaderFiles` / `truncatedFiles` SQL metrics;
  *  - one file listing and one Hadoop-conf broadcast per scan, however
  *    many copies of the scan node the planner and AQE make.
  *
  * Read options: `path` (required), `avroSchema` (reader schema JSON),
  * `splitBytes`, `permissive`. Write options: `path`, `avroSchema`
  * (writer schema; derived from the DataFrame when absent), `codec`
  * (default deflate), `syncIntervalBytes` (default Avro's 64000) and
  * `maxRecordsPerFile` (records per container per task; default 0,
  * unlimited). The write side is a batch write only, and the library's
  * only OCF writer: [[AvroFiles.write]] calls it, and
  * `StreamingPipeline.avroSink` calls it once per micro-batch (an
  * overwrite of that batch's `batch=<id>/`).
  */
object AvroTable {
  val ShortName = "graft-avro"

  final case class OcfBin(splits: Seq[AvroFiles.OcfSplit]) extends InputPartition

  /** A typed read or write option, or `default` when absent; a value
    * `parse` rejects fails naming the option. */
  private def parsedOption[T](options: CaseInsensitiveStringMap, name: String,
      default: T, expected: String = "a number")(parse: String => Option[T]): T =
    Option(options.get(name)).fold(default)(v => parse(v.trim).getOrElse(
      throw new IllegalArgumentException(
        s"$ShortName: option '$name' must be $expected, got '$v'")))

  /** Project the reader schema to `required`'s top-level fields, in
    * `required`'s order — Avro schema resolution then SKIPS every other
    * field during decode (no UTF-8 materialization, no nested-record
    * construction for pruned columns), which is the column-pruning
    * behavior a columnar scan gives for free, at the best a row format
    * can do. Each field is copied whole (aliases, order, props and the
    * raw JSON default), so aliased renames and bytes defaults resolve
    * as they do against the full reader schema. */
  private[avro] def projectSchemaJson(fullJson: String,
      required: StructType): String = {
    val full = AvroCodec.parsedSchema(fullJson)
    val fields = required.fields.toSeq.map { rf =>
      val f = Option(full.getField(rf.name)).getOrElse(throw new IllegalArgumentException(
        s"$ShortName: required column ${rf.name} not in reader schema"))
      new org.apache.avro.Schema.Field(f, f.schema())
    }
    org.apache.avro.Schema.createRecord(full.getName, full.getDoc,
      full.getNamespace, false, fields.asJava).toString
  }

  /** Permissive-mode skips, summed over the scan's tasks: files whose
    * header did not open, and splits whose decode broke mid-stream (a
    * corrupt tail of a container planned as k ranges can count up to k).
    * Spark builds these through their no-arg constructors when it
    * aggregates task values. */
  final class CorruptHeaderFiles extends CustomSumMetric {
    override def name(): String = "corruptHeaderFiles"
    override def description(): String = "OCF files skipped: corrupt header"
  }
  final class TruncatedFiles extends CustomSumMetric {
    override def name(): String = "truncatedFiles"
    override def description(): String = "OCF splits cut short: corrupt block"
  }

  private def taskMetric(metricName: String, v: Long): CustomTaskMetric =
    new CustomTaskMetric {
      override def name(): String = metricName
      override def value(): Long = v
    }

  final class OcfScan(path: String, readerSchemaJson: String,
      splitBytes: Long, permissive: Boolean)
      extends Scan with ScanBuilder with Batch
      with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {
    private var projectedJson: String = readerSchemaJson

    override def pruneColumns(required: StructType): Unit =
      projectedJson = projectSchemaJson(readerSchemaJson, required)

    override def build(): Scan = this
    override def readSchema(): StructType =
      AvroCodec.sparkStructType(projectedJson)
    override def description(): String =
      s"$ShortName path=$path ReadSchema: " +
        readSchema().fieldNames.mkString("[", ",", "]")
    override def toBatch: Batch = this
    override def supportedCustomMetrics(): Array[CustomMetric] =
      Array(new CorruptHeaderFiles, new TruncatedFiles)

    // the planner and AQE ask every copy of the scan node: list the
    // files and ship the Hadoop conf (one broadcast) once per scan
    private lazy val partitions: Array[InputPartition] =
      AvroFiles.planSplits(
        SparkSession.active.sparkContext.hadoopConfiguration, path, splitBytes)
        .map(OcfBin(_): InputPartition).toArray
    private lazy val readerFactory: PartitionReaderFactory = {
      val sc = SparkSession.active.sparkContext
      OcfReaderFactory(
        sc.broadcast(new SerializableConfiguration(sc.hadoopConfiguration)),
        projectedJson, permissive)
    }
    override def planInputPartitions(): Array[InputPartition] = partitions
    override def createReaderFactory(): PartitionReaderFactory = readerFactory
  }

  final case class OcfReaderFactory(conf: Broadcast[SerializableConfiguration],
      readerSchemaJson: String, permissive: Boolean)
      extends PartitionReaderFactory {
    override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
      var corruptHeaders = 0L
      var truncated = 0L
      val rows = p.asInstanceOf[OcfBin].splits.iterator.flatMap(sp =>
        AvroFiles.decodeSplit(sp, conf.value.value, readerSchemaJson, permissive,
          onCorruptHeader = () => corruptHeaders += 1,
          onTruncated = () => truncated += 1))
      new PartitionReader[InternalRow] {
        private var row: InternalRow = _
        override def next(): Boolean =
          if (rows.hasNext) { row = rows.next(); true } else false
        override def get(): InternalRow = row
        override def currentMetricsValues(): Array[CustomTaskMetric] = Array(
          taskMetric("corruptHeaderFiles", corruptHeaders),
          taskMetric("truncatedFiles", truncated))
        override def close(): Unit = ()
      }
    }
  }

  // ---------------------------------------------------------------- write

  import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}

  /** Every container one task wrote, as (temp path, final name) pairs. */
  final case class OcfPartMsg(parts: Seq[(String, String)])
      extends WriterCommitMessage

  /** Task-side part writer — the library's one OCF container writer.
    * Rows stream into `_tmp-` containers; the writer closes its
    * container and opens the next every `maxRecordsPerFile` records
    * (`<= 0`: one container per non-empty task, Spark's file-source
    * semantics). The driver commit renames every container the task
    * reports into place. */
  final case class OcfWriterFactory(path: String, schemaJson: String,
      codec: String, syncIntervalBytes: Int, maxRecordsPerFile: Long,
      conf: SerializableConfiguration)
      extends DataWriterFactory {
    override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
      new DataWriter[InternalRow] {
        private val schema = AvroCodec.parsedSchema(schemaJson)
        private val parts = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
        private var writer: DataFileWriter[GenericRecord] = _
        private var inFile = 0L
        private def closeCurrent(): Unit =
          if (writer != null) { val w = writer; writer = null; w.close() }
        private def openNext(): Unit = {
          val name = f"part-$partitionId%05d-$taskId-c${parts.size}%03d.avro"
          val tmp = new org.apache.hadoop.fs.Path(path, "_tmp-" + name)
          parts += tmp.toString -> name
          writer = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
          writer.setCodec(AvroFiles.codecFactory(codec))
          writer.setSyncInterval(syncIntervalBytes)
          writer.create(schema, tmp.getFileSystem(conf.value).create(tmp, true))
          inFile = 0L
        }
        override def write(row: InternalRow): Unit = {
          if (maxRecordsPerFile > 0 && inFile >= maxRecordsPerFile) closeCurrent()
          if (writer == null) openNext()
          writer.append(AvroCodec.rowToAvro(row, schema))
          inFile += 1
        }
        override def commit(): WriterCommitMessage = {
          closeCurrent()
          OcfPartMsg(parts.toSeq)
        }
        override def abort(): Unit =
          try closeCurrent() finally deleteTemps(conf.value, parts.toSeq)
        override def close(): Unit = closeCurrent()
      }
  }

  /** Every container the tasks' commit messages report. */
  private def reported(messages: Array[WriterCommitMessage]): Seq[(String, String)] =
    messages.toSeq.flatMap {
      case m: OcfPartMsg => m.parts
      case _ => Nil
    }

  private def deleteTemps(conf: org.apache.hadoop.conf.Configuration,
      parts: Seq[(String, String)]): Unit =
    parts.foreach { case (tmpPath, _) =>
      val tmp = new org.apache.hadoop.fs.Path(tmpPath)
      tmp.getFileSystem(conf).delete(tmp, false)
    }

  /** Driver commit: optionally truncate (overwrite mode), then rename
    * every container into place — tasks never mutate the visible
    * layout, so failed/speculative attempts leave only temp files that
    * commit/abort clean up. A `fs.rename` that returns false with
    * nothing at the destination fails the commit: ignoring it silently
    * loses the container (the classic Hadoop pitfall). Task ids are
    * unique per attempt, so final names never collide. */
  final class OcfBatchWrite(path: String, factory: OcfWriterFactory,
      truncate: Boolean) extends BatchWrite {
    private def conf = SparkSession.active.sparkContext.hadoopConfiguration
    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
      factory
    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val dir = new org.apache.hadoop.fs.Path(path)
      val fs = dir.getFileSystem(conf)
      fs.mkdirs(dir)
      if (truncate) {
        val it = fs.listFiles(dir, true)
        val stale = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.Path]
        while (it.hasNext) {
          val st = it.next()
          if (st.isFile && st.getPath.getName.endsWith(".avro")
              && !st.getPath.getName.startsWith("_tmp-"))
            stale += st.getPath
        }
        stale.foreach(fs.delete(_, false))
      }
      reported(messages).foreach { case (tmpPath, name) =>
        val tmp = new org.apache.hadoop.fs.Path(tmpPath)
        val dst = new org.apache.hadoop.fs.Path(dir, name)
        if (!fs.rename(tmp, dst) && !fs.exists(dst))
          throw new java.io.IOException(s"$ShortName commit rename failed: $tmp -> $dst")
      }
    }
    override def abort(messages: Array[WriterCommitMessage]): Unit =
      deleteTemps(conf, reported(messages))
  }

  final class OcfTable(path: String, readerSchemaJson: String)
      extends Table with SupportsRead
      with org.apache.spark.sql.connector.catalog.SupportsWrite {
    override def name(): String = s"$ShortName($path)"
    override def schema(): StructType = AvroCodec.sparkStructType(readerSchemaJson)
    override def capabilities(): java.util.Set[TableCapability] =
      Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
        TableCapability.TRUNCATE).asJava
    override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
      new OcfScan(path, readerSchemaJson,
        parsedOption(o, "splitBytes", AvroFiles.DefaultSplitBytes)(_.toLongOption),
        parsedOption(o, "permissive", false, "true or false")(_.toBooleanOption))
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
      new WriteBuilder
          with org.apache.spark.sql.connector.write.SupportsTruncate {
        private var doTruncate = false
        override def truncate(): WriteBuilder = { doTruncate = true; this }
        override def build(): Write = {
          val o = info.options
          val target = Option(o.get("path")).getOrElse(path)
          val factory = OcfWriterFactory(target,
            Option(o.get("avroSchema"))
              .getOrElse(AvroCodec.avroSchemaJson(info.schema(), "Record", "graft")),
            Option(o.get("codec")).getOrElse("deflate"),
            parsedOption(o, "syncIntervalBytes", DataFileConstants.DEFAULT_SYNC_INTERVAL)(_.toIntOption),
            parsedOption(o, "maxRecordsPerFile", 0L)(_.toLongOption),
            new SerializableConfiguration(
              SparkSession.active.sparkContext.hadoopConfiguration))
          new Write {
            override def toBatch: BatchWrite =
              new OcfBatchWrite(target, factory, doTruncate)
          }
        }
      }
  }

  private[avro] def resolveSchemaJson(options: CaseInsensitiveStringMap): String = {
    val path = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(s"$ShortName requires option 'path'"))
    Option(options.get("avroSchema")).orElse(
      AvroFiles.firstWriterSchemaJson(
        SparkSession.active.sparkContext.hadoopConfiguration, path))
      .getOrElse(throw new IllegalArgumentException(
        s"$ShortName: no readable container under $path and no 'avroSchema' option"))
  }
}

/** Registered as `graft-avro` via META-INF/services. */
class GraftAvroProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = AvroTable.ShortName
  // writes (and user-supplied .schema(...)) hand their own schema to
  // getTable instead of forcing header inference on a possibly-empty dir
  override def supportsExternalMetadata(): Boolean = true
  // per-instance memo of the LAST inference (Spark creates one provider
  // instance per read): getTable would otherwise re-run the recursive
  // listing + header open inferSchema just performed — doubling
  // plan-time latency on exactly the large-prefix case (r14 review)
  @volatile private var lastInferred: Option[(String, StructType, String)] = None
  private def headerJson(path: String): Option[String] =
    lastInferred match {
      case Some((p, _, j)) if p == path => Some(j)
      case _ =>
        AvroFiles.firstWriterSchemaJson(
          SparkSession.active.sparkContext.hadoopConfiguration, path)
    }
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val json = AvroTable.resolveSchemaJson(options)
    val st = AvroCodec.sparkStructType(json)
    Option(options.get("path")).foreach(p => lastInferred = Some((p, st, json)))
    st
  }
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val path = Option(opts.get("path")).getOrElse(
      throw new IllegalArgumentException(s"${AvroTable.ShortName} requires option 'path'"))
    // Precedence (r13): an explicit avroSchema option wins; otherwise a
    // USER-SUPPLIED .schema(...) must be honored — the pre-r13 chain
    // preferred the header probe, silently ignoring the user's reader
    // schema on any non-empty dir. The inferred path is recognized by
    // shape: when the given schema is exactly the header schema's Spark
    // form, keep the richer header JSON (field defaults, record names);
    // anything else is the user's schema and drives the resolution.
    val json = Option(opts.get("avroSchema")).getOrElse {
      headerJson(path) match {
        case Some(hj) if AvroCodec.sparkStructType(hj) == schema => hj
        case _ => AvroCodec.avroSchemaJson(schema, "Record", "graft")
      }
    }
    new AvroTable.OcfTable(path, json)
  }
}
