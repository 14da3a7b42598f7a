package graft.avro

import org.apache.avro.file.{CodecFactory, DataFileReader, FileReader}
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.avro.mapred.FsInput
import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow

/** Avro Object Container File (OCF) source + sink over the plain
  * `org.apache.avro` runtime — the archival/file half of the Avro story
  * (the Confluent wire framing lives in [[AvroCodec]]/[[AvroExpressions]]).
  * The reference pipeline's sink family is format-pluggable
  * (`/root/reference/docker-compose.yml` format.class); OCF is the
  * format a Kafka->object-store pipeline conventionally archives to, so
  * the library reads and writes it natively.
  *
  * Scale design:
  *  - WRITE: [[write]] is `df.write.format("graft-avro")` — the one OCF
  *    writer, [[AvroTable.OcfWriterFactory]]. Each task streams its rows
  *    into a temp container (no driver collect, no shuffle) and the
  *    driver commit renames every container into place. The writer's
  *    `maxRecordsPerFile` option closes a container and opens the next
  *    every N records per task (the `flush.size` story, S8).
  *    `StreamingPipeline.avroSink` makes the same batch write once per
  *    micro-batch, into that batch's `batch=<id>/`. Paths go through
  *    the Hadoop FileSystem API, so the same call sites write `s3a://`
  *    URIs.
  *  - READ: [[read]] is `spark.read.format("graft-avro")` — the one OCF
  *    reader, [[AvroTable.OcfScan]], which decodes only the columns the
  *    query uses. Sync-marker splits, the same contract a built-in
  *    FileFormat gives parquet — each container is planned as `ceil(len
  *    / splitBytes)` byte ranges, a task seeks to the first Avro sync
  *    marker at-or-after its range start (`FileReader.sync`) and decodes
  *    blocks until `pastSync(end)`, so every block is read by exactly
  *    one task and a multi-GiB archival object parallelizes across the
  *    cluster instead of pinning (and OOMing) one task. Records stream
  *    from the FileSystem (`FsInput`) — no whole-file buffering — and
  *    decode straight to InternalRow with a single reused GenericRecord
  *    per split; schema-evolution reads resolve writer->reader by
  *    standard Avro resolution (the file header carries the writer
  *    schema). Small files are bin-packed several-to-a-task so a 100 TB
  *    prefix of tiny objects doesn't explode the task count.
  */
object AvroFiles {

  private[avro] def codecFactory(name: String): CodecFactory = name match {
    case "null"    => CodecFactory.nullCodec()
    case "deflate" => CodecFactory.deflateCodec(6)
    case "snappy"  => CodecFactory.snappyCodec()
    case "zstandard" => CodecFactory.zstandardCodec(3) // zstd-jni ships with Spark
    case other => throw new IllegalArgumentException(s"unsupported avro codec: $other")
  }

  /** Write `df` (whose columns must be named and typed as the
    * columnar layout of `schemaJson`, i.e.
    * `AvroCodec.sparkStructType(schemaJson)` modulo nullability) as
    * container files under `outDir`, replacing any `*.avro` already
    * there: one `part-*.avro` per non-empty partition, through the
    * `graft-avro` DSv2 writer and its driver-side commit. */
  def write(df: DataFrame, schemaJson: String, outDir: String,
      codec: String = "deflate", syncIntervalBytes: Int = 64000): Unit =
    df.write.format(AvroTable.ShortName).mode("overwrite")
      .option("avroSchema", schemaJson)
      .option("codec", codec)
      .option("syncIntervalBytes", syncIntervalBytes.toLong)
      .save(outDir)

  /** Target bytes per read task: a container larger than this is split
    * on Avro sync markers into multiple ranges; files (or ranges)
    * smaller than it are bin-packed several-to-a-task. Mirrors
    * `spark.sql.files.maxPartitionBytes`' default. */
  val DefaultSplitBytes: Long = 128L << 20

  /** One planned byte range of one container file. The reader seeks to
    * the first sync marker at-or-after `start` and stops once past
    * `start + length` — the canonical Avro split contract, so ranges
    * tile a file with every block decoded exactly once. */
  final case class OcfSplit(path: String, start: Long, length: Long)

  /** Plan the splits for every `*.avro` under `dir` (recursive),
    * bin-packed into task groups of ~`splitBytes`: one input partition
    * of the `graft-avro` scan per group. Driver-side metadata only. */
  def planSplits(conf: org.apache.hadoop.conf.Configuration, dir: String,
      splitBytes: Long): Seq[Seq[OcfSplit]] = {
    require(splitBytes > 0, s"splitBytes must be positive: $splitBytes")
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(conf)
    val files = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    val it = fs.listFiles(dirPath, true)
    while (it.hasNext) {
      val st = it.next()
      // _tmp- spools are in-flight (or orphaned by a hard-crashed task
      // that never reached abort): half-written containers that would
      // fail a strict read or inflate permissive corrupt counts — the
      // DSv2 commit explicitly excludes the prefix, so must the planner
      val name = st.getPath.getName
      if (st.isFile && name.endsWith(".avro") && !name.startsWith("_tmp-") &&
          st.getLen > 0)
        files += st.getPath.toString -> st.getLen
    }
    val splits = files.sortBy(_._1).flatMap { case (p, len) =>
      (0L until len by splitBytes).map(s => OcfSplit(p, s, math.min(splitBytes, len - s)))
    }
    // greedy pack in listing order: consecutive small files share a task,
    // a full-sized range fills its own
    val bins = scala.collection.mutable.ArrayBuffer.empty[Seq[OcfSplit]]
    var cur = scala.collection.mutable.ArrayBuffer.empty[OcfSplit]
    var curBytes = 0L
    splits.foreach { sp =>
      if (cur.nonEmpty && curBytes + sp.length > splitBytes) {
        bins += cur.toSeq; cur = scala.collection.mutable.ArrayBuffer.empty; curBytes = 0L
      }
      cur += sp; curBytes += sp.length
    }
    if (cur.nonEmpty) bins += cur.toSeq
    bins.toSeq
  }

  /** Read every `*.avro` container file under `dir` (recursively, so
    * streaming-sink `batch=N/` layouts read directly) as a DataFrame
    * with `readerSchemaJson`'s columnar layout. The writer schema comes
    * from each file's header, so passing a DIFFERENT reader schema is
    * the schema-evolution read: reader-added fields take their
    * defaults, writer-only fields are skipped, fields match by name.
    *
    * Containers larger than `splitBytes` are split on sync markers and
    * read by multiple tasks in parallel (see [[planSplits]]); records
    * stream from the FileSystem, so file size never pressures task heap.
    *
    * `permissive = true` is the lake-robustness mode: a file with a
    * corrupt header is skipped entirely, and a file that breaks
    * mid-stream yields its rows up to the corruption — one bad object
    * in a 100 TB prefix must not kill the scan (the S6 malformed-skip
    * semantic applied at container granularity). Strict mode fails the
    * task, surfacing the bad path. Either way the skips are COUNTED, as
    * the scan's `corruptHeaderFiles` and `truncatedFiles` SQL metrics
    * (per split; see [[AvroTable.CorruptHeaderFiles]]). */
  def read(spark: SparkSession, dir: String, readerSchemaJson: String,
      permissive: Boolean = false,
      splitBytes: Long = DefaultSplitBytes): DataFrame =
    spark.read.format(AvroTable.ShortName)
      .option("avroSchema", readerSchemaJson)
      .option("permissive", permissive)
      .option("splitBytes", splitBytes)
      .load(dir)

  /** Decode one planned split to InternalRows: open, seek to the first
    * sync marker at-or-after the range start, stream blocks until past
    * the range end: the `graft-avro` scan's partition reader, per split
    * of its group. Permissive-mode skips invoke the
    * callbacks (a corrupt header is attributed only to the split owning
    * byte 0, so a multi-split file counts once). */
  private[avro] def decodeSplit(sp: OcfSplit,
      conf: org.apache.hadoop.conf.Configuration,
      readerSchemaJson: String, permissive: Boolean,
      onCorruptHeader: () => Unit, onTruncated: () => Unit): Iterator[InternalRow] = {
    val readerSchema = AvroCodec.parsedSchema(readerSchemaJson)
    val opened: Option[FileReader[GenericRecord]] =
      try {
        val in = new FsInput(new Path(sp.path), conf)
        try Some(DataFileReader.openReader(in,
          new GenericDatumReader[GenericRecord](null, readerSchema)))
        catch { case scala.util.control.NonFatal(e) => in.close(); throw e }
      } catch { case scala.util.control.NonFatal(e) =>
        if (!permissive) throw e
        if (sp.start == 0L) onCorruptHeader()
        None
      }
    opened match {
      case None => Iterator.empty
      case Some(r) =>
        // early-terminated scans (limit(n), take, a failed downstream
        // task) abandon the iterator before exhaustion and the on-done
        // close below never runs — the task-completion listener closes
        // the reader (and its FS input stream) then; a second close
        // after normal exhaustion is a safe no-op
        Option(org.apache.spark.TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit](_ =>
            try r.close()
            catch { case scala.util.control.NonFatal(_) => }))
        val splitEnd = sp.start + sp.length
        // seek to the first block at-or-after our range start; a file
        // mangled badly enough that the seek itself fails is a
        // truncation in permissive mode
        val positioned =
          try { r.sync(sp.start); true }
          catch { case scala.util.control.NonFatal(e) =>
            r.close()
            if (!permissive) throw e
            onTruncated(); false
          }
        if (!positioned) Iterator.empty
        else new Iterator[InternalRow] {
          // one-row lookahead: decode happens inside hasNext so a
          // corrupt tail can end the iteration cleanly instead of
          // throwing after hasNext already promised an element
          private var rec: GenericRecord = null
          private var pending: InternalRow = null
          private var done = false
          private def advance(): Unit =
            try {
              if (r.hasNext && !r.pastSync(splitEnd)) {
                rec = r.next(rec)
                pending = AvroCodec.avroToRow(rec, readerSchema)
              } else { done = true; r.close() }
            } catch {
              // config-vs-data split (r14, mirroring AvroCodec
              // .decodeEvolved's wire-path discipline): a schema-
              // RESOLUTION failure is a CONFIGURATION error — an
              // incompatible reader schema fails every record of every
              // split, and swallowing it as "truncation" silently
              // returns an EMPTY dataset for the whole read. Only
              // data-shaped failures (torn blocks, mangled codecs) are
              // permissive-skippable.
              case e: org.apache.avro.AvroTypeException =>
                r.close(); throw e
              case scala.util.control.NonFatal(e) =>
                if (!permissive) throw e
                onTruncated()
                done = true; r.close()
            }
          def hasNext: Boolean = {
            if (pending == null && !done) advance()
            pending != null
          }
          def next(): InternalRow = {
            if (!hasNext) throw new java.util.NoSuchElementException
            val out = pending
            pending = null
            out
          }
        }
    }
  }

  /** Writer schema of the first container under `dir` — the DSv2
    * table's schema-inference probe (header-only read). */
  private[avro] def firstWriterSchemaJson(
      conf: org.apache.hadoop.conf.Configuration, dir: String): Option[String] = {
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(conf)
    if (!fs.exists(dirPath)) return None
    val it = fs.listFiles(dirPath, true)
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile && st.getPath.getName.endsWith(".avro") &&
          !st.getPath.getName.startsWith("_tmp-") && st.getLen > 0) {
        val in = new FsInput(st.getPath, conf)
        try {
          val r = DataFileReader.openReader(in,
            new GenericDatumReader[GenericRecord]())
          try return Some(r.getSchema.toString) finally r.close()
        } catch { case scala.util.control.NonFatal(_) => in.close() }
      }
    }
    None
  }
}
