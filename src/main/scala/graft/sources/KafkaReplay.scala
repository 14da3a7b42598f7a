package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, EOFException, File, FileInputStream, FileOutputStream}
import java.util.{Map => JMap}

import scala.collection.immutable.SortedMap
import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxRows, ReadMinRows, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** `graft-kafka-replay`: a DataSource-V2 streaming source that replays a
  * Kafka-shaped segment log from disk through the REAL `MicroBatchStream`
  * API — offsets, admission control, `planInputPartitions`, checkpoint
  * commit — so the reference's consumer contract
  * (`/root/reference/producer/verifier_ui.py:36-76`: subscribe, seek to
  * earliest, poll batches, track offsets) is exercised end to end without
  * a broker in the sandbox (the spark-sql-kafka connector jar is not in
  * the image; documented in COVERAGE.md).
  *
  * The on-disk log mirrors a topic: `partition-<p>.log` files of
  * big-endian framed records `[offset i64][tsMicros i64][keyLen i32][key]
  * [valLen i32][value]`, `len = -1` marking a null key/value (tombstone,
  * T1). Values carry whatever bytes the producer wrote — in the tests the
  * Confluent-framed Avro wire payloads (`producer.py:40-66`).
  *
  * The table's read schema is exactly what `format("kafka")` yields
  * (minus headers/timestampType): key/value binary, topic, partition,
  * offset, timestamp — so every downstream pipeline stage
  * ([[graft.streaming.StreamingPipeline]]) is byte-for-byte the one a
  * real cluster would run.
  */
object KafkaReplay {
  val ShortName = "graft-kafka-replay"

  val schema: StructType = StructType(Seq(
    StructField("key", BinaryType),
    StructField("value", BinaryType),
    StructField("topic", StringType, nullable = false),
    StructField("partition", IntegerType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("timestamp", TimestampType, nullable = false)))

  /** One record destined for the log. Offsets are assigned append-order
    * per partition, like a broker. */
  final case class Record(partition: Int, key: Array[Byte],
      value: Array[Byte], tsMicros: Long)

  private def partFile(dir: File, p: Int) = new File(dir, s"partition-$p.log")

  private def listPartitions(dir: File): Seq[Int] = {
    val fs = Option(dir.listFiles()).getOrElse(Array.empty[File])
    fs.flatMap { f =>
      val n = f.getName
      if (n.startsWith("partition-") && n.endsWith(".log"))
        Some(n.stripPrefix("partition-").stripSuffix(".log").toInt)
      else None
    }.toSeq.sorted
  }

  /** Write one log frame: `[offset i64][tsMicros i64][keyLen i32][key]
    * [valLen i32][value]`, `len = -1` for a null key/value. The one
    * encoder of the on-disk format. */
  private def writeFrame(out: DataOutputStream, offset: Long, tsMicros: Long,
      key: Array[Byte], value: Array[Byte]): Unit = {
    out.writeLong(offset)
    out.writeLong(tsMicros)
    if (key == null) out.writeInt(-1) else { out.writeInt(key.length); out.write(key) }
    if (value == null) out.writeInt(-1) else { out.writeInt(value.length); out.write(value) }
  }

  /** Append records to the log at `path` (creating it if absent),
    * continuing each partition's offset sequence — the producer side of
    * the replay contract. It is a sink commit whose key (`append:<uuid>`)
    * is never ledgered, so a crashed append is rolled back wholesale by
    * the next writer's recoverTornAppend. */
  def append(path: String, records: Seq[Record]): Unit = {
    val dir = new File(path)
    dir.mkdirs()
    withCommitLock(dir) {
      recoverTornAppend(dir)
      appendRecords(dir, s"append:${java.util.UUID.randomUUID()}",
        ledger = false)(records.foreach)
    }
  }

  /** Distributed producer for fixture logs: a DataFrame with columns
    * `(partition int, key binary, value binary, tsMicros long, seq long)`
    * is hash-routed so each log partition lands in exactly ONE task
    * (`repartition(col("partition"))` — colliding partition values share
    * a task but never split), sorted by `seq` within it, and appended
    * with broker-style sequential offsets. The target is replaced
    * wholesale, so reruns are self-cleaning. Local/shared-FS writer by
    * design: in production the producer IS Kafka — this exists so the
    * oracle gate can materialize a topic to replay. */
  def writeLog(df: org.apache.spark.sql.DataFrame, path: String,
      numTasks: Int = 8): Unit = {
    val dir = new File(path)
    FileUtils.deleteQuietly(dir)
    dir.mkdirs()
    import org.apache.spark.sql.functions.col
    df.select(col("partition").cast("int"), col("key"), col("value"),
        col("tsMicros").cast("long"), col("seq").cast("long"))
      .repartition(numTasks, col("partition"))
      .sortWithinPartitions(col("partition"), col("seq"))
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        // Each log partition is written to a task-attempt-unique temp file
        // and atomically renamed into place on completion, so a retried or
        // speculative duplicate task never interleaves bytes with the
        // original — the last attempt to finish wins wholesale.
        val attempt = Option(org.apache.spark.TaskContext.get())
          .map(_.taskAttemptId()).getOrElse(0L)
        var curPart = Int.MinValue
        var out: DataOutputStream = null
        var tmp: File = null
        var next = 0L
        def finishCurrent(): Unit = if (out != null) {
          out.close(); out = null
          java.nio.file.Files.move(tmp.toPath,
            partFile(new File(path), curPart).toPath,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
        try {
          it.foreach { r =>
            val p = r.getInt(0)
            if (p != curPart) {
              finishCurrent()
              curPart = p
              next = 0L
              tmp = new File(new File(path), s"partition-$p.log.tmp-$attempt")
              out = new DataOutputStream(new BufferedOutputStream(
                new FileOutputStream(tmp, false)))
            }
            writeFrame(out, next, r.getLong(3),
              r.getAs[Array[Byte]](1), r.getAs[Array[Byte]](2))
            next += 1
          }
          finishCurrent()
        } finally if (out != null) { out.close(); tmp.delete(); () }
      }
    // a wholesale replace can land the same byte length within the fs
    // mtime granularity — the (len, mtime) validation would then serve
    // a stale count; drop the entries outright
    invalidateUnder(dir)
  }

  /** Skip the frame `in` is positioned at and return its byte length.
    * Throws EOFException on a torn or absent frame. */
  private def skipFrame(in: DataInputStream): Long = {
    in.readLong(); in.readLong()
    val kl = in.readInt(); if (kl >= 0) in.skipNBytes(kl.toLong)
    val vl = in.readInt(); if (vl >= 0) in.skipNBytes(vl.toLong)
    // frame = offset(8) + ts(8) + klen(4) + key + vlen(4) + value
    24L + (if (kl > 0) kl else 0L) + (if (vl > 0) vl else 0L)
  }

  /** Records per sparse-index slot: the framing scan that counts a log
    * also records the byte position of every `IndexStride`-th record,
    * so later range reads SEEK near their start offset instead of
    * re-framing the whole prefix (a paced replay re-reading the prefix
    * per trigger is O(N²/k) total I/O without this). */
  private val IndexStride = 1024L

  /** Cached framing state of one partition log: file length + mtime the
    * entry was computed at, the byte position framing stopped at (end of
    * the last WHOLE frame — a torn tail sits past it), the record count,
    * the sparse seek marks, and the file's first frame header (first
    * ≤16 bytes: record 0's offset+ts) as a replacement fingerprint.
    * `scannedPos` is what makes the append path incremental — see
    * [[positionIndex]]. */
  private final case class PosEntry(fileLen: Long, mtime: Long,
      scannedPos: Long, n: Long, marks: Array[Long], head: Array[Byte],
      prefixCrc: Long, prefixCrcLen: Int)

  private val posCache =
    new java.util.concurrent.ConcurrentHashMap[String, PosEntry]()
  private[sources] def invalidateUnder(dir: File): Unit = {
    val prefix = dir.getAbsolutePath + File.separator
    posCache.keySet.removeIf(_.startsWith(prefix)): Unit
  }

  /** (record count, sparse byte positions of offsets 0, stride, 2·stride…)
    * memoized per path. The logs are APPEND-ONLY (writeLog replacement
    * and truncation recovery both invalidate explicitly), so a file that
    * merely GREW resumes framing from the cached `scannedPos` instead of
    * byte 0 — without this the sink's per-epoch endOffset calls re-framed
    * the whole file every commit (the cache keyed on exact (len, mtime)
    * can never hit on a path that grows every epoch): O(N²) I/O over a
    * run (r15 review). A file that SHRANK or changed under an unchanged
    * length re-frames from scratch — and a GROWN file only resumes after
    * its content is verified against the cached entry (first-frame
    * header bytes unchanged AND the frame at `scannedPos` carries the
    * expected next sequential offset), because a cross-process writeLog
    * REPLACEMENT with a longer file would otherwise mis-frame from a
    * stale position and return garbage (r15 ADVICE). Verification
    * failure falls back to a full re-frame. */
  private def positionIndex(f: File): (Long, Array[Long]) = {
    if (!f.exists()) return (0L, Array.empty[Long])
    val key = f.getAbsolutePath
    val len = f.length()
    val mtime = f.lastModified()
    val cached = posCache.get(key)
    if (cached != null && cached.fileLen == len && cached.mtime == mtime)
      return (cached.n, cached.marks)
    val resume = cached != null && len > cached.fileLen &&
      resumeVerified(f, cached, len)
    val marks = scala.collection.mutable.ArrayBuffer.empty[Long]
    var n = 0L
    var pos = 0L
    if (resume) { marks ++= cached.marks; n = cached.n; pos = cached.scannedPos }
    val in = new DataInputStream(new BufferedInputStream(new FileInputStream(f)))
    try {
      if (pos > 0L) in.skipNBytes(pos)
      while (true) {
        if (n % IndexStride == 0L) marks += pos
        pos += skipFrame(in)
        n += 1
      }
    } catch { case _: EOFException =>
      // the mark for a record is only valid if the record parsed whole:
      // a torn tail must not leave a mark pointing into garbage — marks
      // are appended BEFORE the parse, so drop the last mark if the
      // parse died inside its slot's first record
      if (marks.nonEmpty && n % IndexStride == 0L && marks.last == pos)
        marks.dropRightInPlace(1)
    }
    finally in.close()
    val positions = marks.toArray
    val (head, crc, crcLen) = readHead(f, len)
    posCache.put(key, PosEntry(len, mtime, pos, n, positions, head, crc, crcLen))
    (n, positions)
  }

  /** How much of the file prefix the replacement fingerprint hashes —
    * covers the first frame(s) without re-reading a multi-GB log. */
  private val PrefixCrcCap = 4096

  /** Replacement fingerprint of the log's start: the first ≤16 bytes
    * (record 0's offset+ts header) verbatim, plus a CRC32 over the first
    * ≤[[PrefixCrcCap]] bytes — the "hash the first whole frame" arm of
    * the r16 ADVICE #3 strengthening (typical frames fit well inside the
    * cap; a replacement sharing record 0's offset AND timestamp still
    * diverges in key/value bytes, which the CRC sees and the bare
    * 16-byte head did not). */
  private def readHead(f: File, len: Long): (Array[Byte], Long, Int) = {
    val pre = new Array[Byte](math.min(PrefixCrcCap.toLong, len).toInt)
    if (pre.length > 0) {
      val in = new FileInputStream(f)
      try { new DataInputStream(in).readFully(pre) }
      catch { case _: java.io.IOException =>
        return (Array.emptyByteArray, 0L, 0) }
      finally in.close()
    }
    val crc = new java.util.zip.CRC32()
    crc.update(pre)
    (pre.take(16), crc.getValue, pre.length)
  }

  /** Content check before resuming an incremental re-frame of a grown
    * file: the cached first-frame header must still open the file, the
    * CRC32 of the cached prefix window must match (r16 ADVICE #3 — a
    * replacement whose record 0 shares offset 0 and the same timestamp
    * diverges in the key/value bytes the bare header missed), the frame
    * at the LAST SPARSE MARK (when present) must decode to its slot's
    * expected offset, and the frame at `scannedPos` (when whole) must
    * decode to the next sequential offset `cached.n`. All hold for any
    * append to the same log; failure → full re-frame. */
  private def resumeVerified(f: File, cached: PosEntry, len: Long): Boolean = {
    if (cached.head.isEmpty) return false
    val raf = new java.io.RandomAccessFile(f, "r")
    try {
      val head = new Array[Byte](cached.head.length)
      raf.readFully(head)
      if (!java.util.Arrays.equals(head, cached.head)) return false
      if (cached.prefixCrcLen > 0) {
        val pre = new Array[Byte](cached.prefixCrcLen)
        raf.seek(0L)
        raf.readFully(pre)
        val crc = new java.util.zip.CRC32()
        crc.update(pre)
        if (crc.getValue != cached.prefixCrc) return false
      }
      if (cached.marks.nonEmpty && len >= cached.marks.last + 8L) {
        raf.seek(cached.marks.last)
        if (raf.readLong() != (cached.marks.length - 1).toLong * IndexStride)
          return false
      }
      if (len >= cached.scannedPos + 8L) {
        raf.seek(cached.scannedPos)
        raf.readLong() == cached.n
      } else true
    } catch { case _: java.io.IOException => false }
    finally raf.close()
  }
  private def endOffset(f: File): Long = positionIndex(f)._1

  /** Records wholly contained in the first `capBytes` of `f` — the
    * reader-side view of a log whose tail a live commit may still
    * truncate. Uncached: the window a manifest is live is one commit. */
  private def countWithin(f: File, capBytes: Long): Long = {
    if (!f.exists() || capBytes <= 0L) return 0L
    val in = new DataInputStream(new BufferedInputStream(new FileInputStream(f)))
    var n = 0L
    var pos = 0L
    try {
      while (pos < capBytes) {
        pos += skipFrame(in)
        if (pos <= capBytes) n += 1
      }
    } catch { case _: EOFException => } finally in.close()
    n
  }

  /** Byte position to seek to before skip-decoding toward `start` — the
    * greatest indexed mark at-or-before it. Computed DRIVER-side at
    * planning and shipped in the InputPartition, so executors benefit
    * without holding the index. */
  private def seekPosFor(f: File, start: Long): Long = {
    if (start <= 0L) return 0L
    val (_, positions) = positionIndex(f)
    if (positions.isEmpty) 0L
    else positions(math.min(start / IndexStride, (positions.length - 1).toLong).toInt)
  }

  // ---- commit protocol: one lock, one tail writer ----------------------
  // The partition logs are append-only plain files, so an append is not
  // atomic. `append` and the sink commit are the log's only tail writers,
  // and both run one protocol: hold withCommitLock, run recoverTornAppend,
  // then write through appendRecords. A crash manifest (the key + every
  // log's pre-append length) lands atomically BEFORE any frame; recovery
  // on the next write truncates a torn append away, unless the manifest's
  // key reached the ledger — then the crash came after the point of no
  // return and the logs are good.

  private val InflightName = "_commit.inflight"

  private val lockMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Run `body` holding the log dir's commit lock: a JVM monitor keyed by
    * the lock file's CANONICAL path (symlink aliases share it; a second
    * FileChannel lock in one JVM throws instead of blocking), then a flock
    * on `_commit.lock` for other JVMs, released by closing the channel. */
  private def withCommitLock[A](dir: File)(body: => A): A = {
    val lockFile = new File(dir, "_commit.lock")
    val mon = lockMonitors.computeIfAbsent(lockFile.getCanonicalPath,
      _ => new Object)
    mon.synchronized {
      val ch = java.nio.channels.FileChannel.open(lockFile.toPath,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try { ch.lock(); body } finally ch.close()
    }
  }

  private def writeInflight(dir: File, ledgerKey: String): Unit = {
    val lines = (Seq(s"key $ledgerKey") ++
      listPartitions(dir).map(p => s"$p ${partFile(dir, p).length()}"))
      .mkString("", "\n", "\n")
    val tmp = new File(dir, InflightName + ".tmp")
    val w = new java.io.FileWriter(tmp, false)
    try w.write(lines) finally w.close()
    java.nio.file.Files.move(tmp.toPath, new File(dir, InflightName).toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit
  }

  /** Parse a `_commit.inflight` manifest: its ledger key and every
    * listed log's pre-append byte length. Throws the read's
    * IOException — each caller decides what a vanished manifest means. */
  private def readInflight(mf: File): (Option[String], Map[Int, Long]) = {
    val src = scala.io.Source.fromFile(mf)
    val lines =
      try src.getLines().map(_.trim).filter(_.nonEmpty).toList
      finally src.close()
    val key = lines.collectFirst {
      case l if l.startsWith("key ") => l.stripPrefix("key ") }
    val lengths = lines.collect { case l if !l.startsWith("key ") =>
      val parts = l.split(" "); (parts(0).toInt, parts(1).toLong) }.toMap
    (key, lengths)
  }

  private[graft] def recoverTornAppend(dir: File): Unit = {
    val mf = new File(dir, InflightName)
    if (!mf.exists()) return
    val (key, listed) = readInflight(mf)
    val committed = key.exists(k => committedEpochs(dir).contains(k))
    if (!committed) {
      listPartitions(dir).foreach { p =>
        val f = partFile(dir, p)
        listed.get(p) match {
          case Some(len) =>
            if (f.length() > len) {
              val ch = java.nio.channels.FileChannel.open(f.toPath,
                java.nio.file.StandardOpenOption.WRITE)
              try ch.truncate(len): Unit finally ch.close()
            }
          case None => f.delete(): Unit // created by the torn append
        }
      }
      invalidateUnder(dir)
    }
    mf.delete(): Unit
  }

  /** A partition log's open tail: its stream and the next offset. */
  private final class Tail(var next: Long, val out: DataOutputStream)

  /** The one tail writer of the log; the caller holds [[withCommitLock]]
    * and has run [[recoverTornAppend]]. Writes the manifest under `key`,
    * then streams `records` one at a time (heap O(1) in the payload),
    * opening each partition log once, at its end offset. Every stream is
    * closed and the first failure rethrown: close() flushes, and a torn
    * append must keep its manifest so the next writer truncates it. With
    * `ledger`, `key` goes to `_epochs`. The manifest is retired LAST by a
    * delete that throws: one surviving a finished unledgered append would
    * cap readers below its records and get them truncated. */
  private def appendRecords(dir: File, key: String, ledger: Boolean)(
      records: (Record => Unit) => Unit): Unit = {
    writeInflight(dir, key)
    val tails = scala.collection.mutable.HashMap.empty[Int, Tail]
    var primary: Throwable = null
    try records { r =>
      val t = tails.getOrElseUpdate(r.partition, {
        val f = partFile(dir, r.partition)
        new Tail(endOffset(f), new DataOutputStream(new BufferedOutputStream(
          new FileOutputStream(f, true))))
      })
      writeFrame(t.out, t.next, r.tsMicros, r.key, r.value)
      t.next += 1
    } catch { case t: Throwable => primary = t } finally {
      tails.values.foreach { t =>
        try t.out.close()
        catch { case e: Throwable => if (primary == null) primary = e }
      }
      if (primary != null) throw primary
    }
    if (ledger) {
      val w = new java.io.FileWriter(epochsFile(dir), true)
      try w.write(s"$key\n") finally w.close()
    }
    java.nio.file.Files.delete(new File(dir, InflightName).toPath)
  }

  private def readBytes(in: DataInputStream): Array[Byte] = {
    val n = in.readInt()
    if (n < 0) null else { val b = new Array[Byte](n); in.readFully(b); b }
  }

  /** Feed every record of one task spool to `emit`, in spool order; a
    * missing spool feeds nothing. The spool's stream is closed in a
    * `finally`, also when `emit` fails. */
  private def readSpool(spool: File)(emit: Record => Unit): Unit =
    if (spool.exists()) {
      val in = new DataInputStream(new BufferedInputStream(new FileInputStream(spool)))
      try {
        while (true) {
          val p = in.readInt()
          val ts = in.readLong()
          val k = readBytes(in)
          emit(Record(p, k, readBytes(in), ts))
        }
      } catch { case _: EOFException => }
      finally in.close()
    }

  /** Per-partition READ-VISIBLE byte caps from a live (un-ledgered)
    * `_commit.inflight` manifest, or None when every byte on disk is
    * committed. Readers must not see bytes a crashed commit may still
    * truncate: a crash inside appendRecords after its
    * frames landed, before its ledger write, leaves the records
    * physically in the logs; a reader that counts them emits offsets the
    * next writer's recoverTornAppend truncates and re-appends — possibly with a
    * different record-to-offset assignment (task replay order) — so the
    * reader would have consumed phantom records it never re-reads. The
    * manifest records every log's pre-append length: that prefix is
    * exactly the committed state. A partition absent from the manifest
    * was created BY the in-flight append — fully invisible. A manifest
    * whose key reached the ledger means the crash was after the point
    * of no return: the bytes are good, no cap. */
  private def uncommittedCaps(dir: File): Option[Map[Int, Long]] = {
    val mf = new File(dir, InflightName)
    if (!mf.exists()) return None
    val (key, caps) =
      try readInflight(mf)
      catch { case _: java.io.IOException => return None } // raced its delete
    if (key.exists(k => committedEpochs(dir).contains(k))) None
    else Some(caps)
  }

  /** Per-partition end offsets (exclusive) — the broker's "latest".
    * Capped at the committed prefix while a commit is in flight or
    * crashed-un-ledgered (see [[uncommittedCaps]]). */
  def endOffsets(path: String): SortedMap[Int, Long] = {
    val dir = new File(path)
    val caps = uncommittedCaps(dir)
    SortedMap.from(listPartitions(dir).map { p =>
      val f = partFile(dir, p)
      p -> (caps match {
        case None => endOffset(f)
        case Some(m) => m.get(p) match {
          case Some(capBytes) => countWithin(f, capBytes)
          case None => 0L // created by the in-flight append
        }
      })
    })
  }

  /** `{"0":12,"1":7}` — partition → exclusive end offset, sorted for a
    * stable checkpoint representation. */
  final case class ReplayOffset(parts: SortedMap[Int, Long]) extends Offset {
    override def json(): String =
      parts.map { case (p, o) => s""""$p":$o""" }.mkString("{", ",", "}")
  }

  object ReplayOffset {
    private val Entry = """"(\d+)"\s*:\s*(\d+)""".r
    def fromJson(s: String): ReplayOffset =
      ReplayOffset(SortedMap.from(
        Entry.findAllMatchIn(s).map(m => m.group(1).toInt -> m.group(2).toLong)))
  }

  // User-facing offset-spec JSON (startingOffsets/endingOffsets) allows the
  // Kafka sentinels -2 (earliest) and -1 (latest), and tolerates the
  // topic-nested form `{"t":{"0":5}}` — only numeric keys are offsets.
  private val SpecEntry = """"(\d+)"\s*:\s*(-?\d+)""".r
  private def parseOffsetSpec(s: String): Map[Int, Long] =
    SpecEntry.findAllMatchIn(s).map(m => m.group(1).toInt -> m.group(2).toLong).toMap

  /** Lag-prorated admission (r15 review): per-partition row counts to
    * admit this trigger, summing to EXACTLY min(budget, total lag) —
    * this source's `maxOffsetsPerTrigger` is a hard cap (spec-pinned),
    * unlike Kafka's ceil-rounded approximation. The previous greedy
    * partition-order allocation gave a continuously-produced
    * low-numbered partition the whole budget every trigger, starving
    * the rest indefinitely. Starvation-freedom: when the budget covers
    * the lagging-partition count, each lagging partition is RESERVED
    * one row and the rest is prorated by remaining lag
    * (largest-remainder rounding, ties to lower partition ids); when
    * the budget is smaller than the lagging count, the least-served
    * partitions (smallest admitted offset, then id) get one row each —
    * served partitions' offsets grow, so the selection rotates across
    * triggers without scheduler state. */
  private[sources] def prorate(lags: SortedMap[Int, Long],
      from: Map[Int, Long], budget: Long): Map[Int, Long] = {
    val lagging = lags.filter(_._2 > 0L)
    val total = lagging.values.sum
    if (total <= budget) return lagging
    if (budget < lagging.size) {
      // rotate by least-served: smallest already-admitted offset first
      val chosen = lagging.keys.toSeq
        .sortBy(p => (from.getOrElse(p, 0L), p)).take(budget.toInt)
      return chosen.map(_ -> 1L).toMap
    }
    val reserve = lagging.size.toLong
    val rest = budget - reserve
    val restLag = total - reserve // Σ (lag − 1)
    val base = lagging.map { case (p, l) =>
      p -> (1L + (if (restLag > 0L) rest * (l - 1L) / restLag else 0L)) }
    var rem = budget - base.values.sum
    // largest-remainder: hand the leftover rows to the partitions whose
    // prorated share lost the most to the floor, never past their lag
    val order = lagging.toSeq.map { case (p, l) =>
      (p, if (restLag > 0L) rest * (l - 1L) % restLag else 0L)
    }.sortBy { case (p, frac) => (-frac, p) }.map(_._1)
    val out = scala.collection.mutable.Map.from(base)
    val it = order.iterator
    while (rem > 0L && it.hasNext) {
      val p = it.next()
      if (out(p) < lagging(p)) { out(p) += 1L; rem -= 1L }
    }
    out.toMap
  }

  /** Resolve a `startingOffsets` spec against the log's latest offsets —
    * same surface as the Kafka batch source: "earliest" (default), or a
    * JSON map with -2 = earliest; "latest"/-1 is rejected for a batch
    * start, matching Kafka. Unlisted partitions start at earliest. */
  def resolveStartingOffsets(spec: String, latest: SortedMap[Int, Long]): SortedMap[Int, Long] =
    spec.trim match {
      case "earliest" => latest.map { case (p, _) => p -> 0L }
      case "latest" => throw new IllegalArgumentException(
        s"$ShortName: startingOffsets 'latest' is not allowed for batch reads")
      case json =>
        val m = parseOffsetSpec(json)
        latest.map { case (p, e) =>
          p -> (m.get(p) match {
            case Some(-2L) | None => 0L
            case Some(-1L) => throw new IllegalArgumentException(
              s"$ShortName: startingOffsets -1 (latest) is not allowed for batch reads")
            // out-of-range is a MISCONFIGURATION, not an empty window:
            // Kafka raises offset-out-of-range; silently clamping start
            // produced an empty-but-successful read (r15 review). Only
            // -1/-2 are sentinels; other negatives are typos.
            case Some(o) =>
              if (o < 0L || o > e) throw new IllegalArgumentException(
                s"$ShortName: startingOffsets $o for partition $p is out " +
                  s"of range [0, $e]")
              o
          })
        }
    }

  /** Resolve a STREAMING `startingOffsets` spec — the Kafka streaming
    * surface: "earliest" (default), "latest" (start at the log's
    * current end), or a JSON map with -2 = earliest / -1 = latest per
    * partition; unlisted partitions start at earliest. Only consulted
    * for a FRESH query — a checkpointed restart resumes from the
    * checkpoint, same as Kafka. */
  def resolveStreamStartingOffsets(
      spec: String, latest: SortedMap[Int, Long]): SortedMap[Int, Long] =
    spec.trim match {
      case "earliest" => latest.map { case (p, _) => p -> 0L }
      case "latest" => latest
      case json =>
        val m = parseOffsetSpec(json)
        latest.map { case (p, e) =>
          p -> (m.get(p) match {
            case Some(-2L) | None => 0L
            case Some(-1L) => e
            // same strictness as the batch surface (r15 review): a start
            // beyond the log or a non-sentinel negative is a typo, and a
            // fresh query silently starting empty hides it
            case Some(o) =>
              if (o < 0L || o > e) throw new IllegalArgumentException(
                s"$ShortName: startingOffsets $o for partition $p is out " +
                  s"of range [0, $e]")
              o
          })
        }
    }

  /** Resolve an `endingOffsets` spec: "latest" (default) or a JSON map
    * with -1 = latest; unlisted partitions end at latest. Requested ends
    * past the log are clamped to what exists. */
  def resolveEndingOffsets(spec: String, latest: SortedMap[Int, Long]): SortedMap[Int, Long] =
    spec.trim match {
      case "latest" => latest
      case "earliest" => throw new IllegalArgumentException(
        s"$ShortName: endingOffsets 'earliest' is not allowed")
      case json =>
        val m = parseOffsetSpec(json)
        latest.map { case (p, e) =>
          p -> (m.get(p) match {
            case Some(-1L) | None => e
            // ends past the log stay CLAMPED (documented: "as of
            // planning time" bounded-read semantics; the spec pins it),
            // but a non-sentinel negative end is a typo, not a window
            case Some(o) =>
              if (o < 0L) throw new IllegalArgumentException(
                s"$ShortName: endingOffsets $o for partition $p is not a " +
                  "valid offset (-1 = latest)")
              o.min(e)
          })
        }
    }

  final case class ReplayInputPartition(file: String, partition: Int,
      start: Long, end: Long, topic: String,
      seekPos: Long = 0L) extends InputPartition

  /** Streams the framed log, emitting rows for offsets in [start, end).
    * The reader first seeks to `seekPos` (the driver-planned sparse-index
    * mark at-or-before `start` — frames carry their offsets, so decoding
    * resumes safely from any mark), then records before `start` are
    * skipped without copying their payloads. Without the seek a paced
    * replay re-frames the whole prefix every micro-batch. */
  final class ReplayPartitionReader(ip: ReplayInputPartition)
      extends PartitionReader[InternalRow] {
    private val in = new DataInputStream(new BufferedInputStream(
      new FileInputStream(ip.file)))
    if (ip.seekPos > 0L) in.skipNBytes(ip.seekPos)
    private val topic = UTF8String.fromString(ip.topic)
    private var row: InternalRow = _

    override def next(): Boolean = {
      try {
        while (true) {
          val off = in.readLong()
          val ts = in.readLong()
          if (off >= ip.end) return false
          val skip = off < ip.start
          val kl = in.readInt()
          val key = if (kl < 0) null
            else if (skip) { in.skipNBytes(kl.toLong); null }
            else { val b = new Array[Byte](kl); in.readFully(b); b }
          val vl = in.readInt()
          val value = if (vl < 0) null
            else if (skip) { in.skipNBytes(vl.toLong); null }
            else { val b = new Array[Byte](vl); in.readFully(b); b }
          if (!skip) {
            row = new GenericInternalRow(
              Array[Any](key, value, topic, ip.partition, off, ts))
            return true
          }
        }
        false
      } catch { case _: EOFException => false }
    }

    override def get(): InternalRow = row
    override def close(): Unit = in.close()
  }

  object ReplayReaderFactory extends PartitionReaderFactory {
    override def createReader(p: InputPartition): PartitionReader[InternalRow] =
      new ReplayPartitionReader(p.asInstanceOf[ReplayInputPartition])
  }

  private def planRange(path: String, topic: String, from: SortedMap[Int, Long],
      until: SortedMap[Int, Long]): Array[InputPartition] = {
    val dir = new File(path)
    until.iterator.flatMap { case (p, end) =>
      val start = from.getOrElse(p, 0L)
      if (end > start) {
        val f = partFile(dir, p)
        Some(ReplayInputPartition(f.getPath, p, start, end, topic,
          seekPosFor(f, start)))
      } else None
    }.toArray
  }

  /** The streaming half: offsets live in the checkpoint via
    * `json()`/`deserializeOffset`; admission control caps each
    * micro-batch at `maxOffsetsPerTrigger` rows (allocated across
    * partitions in partition order, like the Kafka source's per-partition
    * proration); `Trigger.AvailableNow` pins the end offsets once at
    * query start so a bounded run drains exactly the log prefix that
    * existed when it began. */
  final class ReplayMicroBatchStream(path: String, topic: String,
      maxPerTrigger: Option[Long], startingOffsets: String = "earliest")
      extends MicroBatchStream with SupportsTriggerAvailableNow {
    @volatile private var availableNowEnd: Option[SortedMap[Int, Long]] = None

    private def currentEnd: SortedMap[Int, Long] =
      availableNowEnd.getOrElse(endOffsets(path))

    override def prepareForTriggerAvailableNow(): Unit =
      availableNowEnd = Some(endOffsets(path))

    // honors the user's startingOffsets for a FRESH query (a
    // checkpointed restart never calls this — the checkpoint is
    // authoritative, same as Kafka); the pre-r13 form hardwired
    // earliest and silently ignored a configured start position
    override def initialOffset(): Offset =
      ReplayOffset(resolveStreamStartingOffsets(startingOffsets, currentEnd))

    override def getDefaultReadLimit: ReadLimit =
      maxPerTrigger.map(ReadLimit.maxRows).getOrElse(ReadLimit.allAvailable())

    override def latestOffset(): Offset =
      throw new UnsupportedOperationException(
        "latestOffset(Offset, ReadLimit) should be called instead")

    /** Extract the row cap from any ReadLimit shape. A composite (e.g.
      * minRows + maxRows from Trigger.AvailableNow pacing) is searched for
      * its ReadMaxRows component; all-available and min-rows floors mean
      * "no cap"; anything unrecognized throws rather than silently
      * dropping a configured admission limit. */
    private def maxRowsOf(limit: ReadLimit): Option[Long] = limit match {
      case r: ReadMaxRows => Some(r.maxRows())
      case c: CompositeReadLimit =>
        c.getReadLimits.toSeq.flatMap(l => maxRowsOf(l)).minOption
      case _: ReadAllAvailable => None
      case _: ReadMinRows => None
      case other => throw new UnsupportedOperationException(
        s"$ShortName: unsupported ReadLimit ${other.getClass.getName}")
    }

    override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
      val from = start.asInstanceOf[ReplayOffset].parts
      val end = currentEnd
      val capped = maxRowsOf(limit) match {
        case Some(maxRows) =>
          val lags = end.map { case (p, e) =>
            p -> (e - from.getOrElse(p, 0L)).max(0L) }
          val takes = prorate(lags, from, maxRows)
          SortedMap.from(lags.map { case (p, _) =>
            p -> (from.getOrElse(p, 0L) + takes.getOrElse(p, 0L)) })
        case None => end
      }
      ReplayOffset(capped)
    }

    override def reportLatestOffset(): Offset = ReplayOffset(currentEnd)

    override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
      planRange(path, topic, start.asInstanceOf[ReplayOffset].parts,
        end.asInstanceOf[ReplayOffset].parts)

    override def createReaderFactory(): PartitionReaderFactory = ReplayReaderFactory
    override def deserializeOffset(json: String): Offset = ReplayOffset.fromJson(json)
    // the checkpoint is authoritative: nothing to release on commit
    override def commit(end: Offset): Unit = ()
    override def stop(): Unit = ()
  }

  /** Batch half: a bounded slice of the log as of planning time (the
    * bounded-read O2 shape — lets the oracle gate scan the same bytes the
    * stream sees). Honors `startingOffsets`/`endingOffsets` with the Kafka
    * batch-source surface (S2 batch mapping). */
  final class ReplayBatch(path: String, topic: String,
      startingOffsets: String, endingOffsets: String) extends Batch {
    override def planInputPartitions(): Array[InputPartition] = {
      val latest = endOffsets(path)
      planRange(path, topic,
        resolveStartingOffsets(startingOffsets, latest),
        resolveEndingOffsets(endingOffsets, latest))
    }
    override def createReaderFactory(): PartitionReaderFactory = ReplayReaderFactory
  }

  final class ReplayScan(path: String, topic: String, maxPerTrigger: Option[Long],
      startingOffsets: String, endingOffsets: String)
      extends Scan with ScanBuilder {
    override def build(): Scan = this
    override def readSchema(): StructType = schema
    override def description(): String = s"$ShortName path=$path"
    override def toBatch: Batch =
      new ReplayBatch(path, topic, startingOffsets, endingOffsets)
    override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
      // endingOffsets is a batch-only concept (Kafka rejects it for
      // streaming queries too) — failing loudly beats silently reading
      // past a configured end
      require(endingOffsets.trim == "latest",
        s"$ShortName: endingOffsets is not supported for streaming reads")
      new ReplayMicroBatchStream(path, topic, maxPerTrigger, startingOffsets)
    }
  }

  // ---------------------------------------------------------------- sink

  /** Input schema the sink expects — the Kafka producer-record shape
    * (`format("kafka")` write contract minus topic: the topic is a sink
    * option here). `timestamp` is optional; absent, the commit stamps 0. */
  val sinkSchema: StructType = StructType(Seq(
    StructField("key", BinaryType),
    StructField("value", BinaryType),
    StructField("partition", IntegerType, nullable = false),
    StructField("timestamp", TimestampType)))

  private def epochsFile(dir: File) = new File(dir, "_epochs")

  private def committedEpochs(dir: File): Set[String] = {
    val f = epochsFile(dir)
    if (!f.exists()) Set.empty
    else {
      // try/finally: the pre-r13 form leaked one fd per commit (one
      // call per micro-batch on a long-running stream)
      val src = scala.io.Source.fromFile(f)
      try src.getLines().map(_.trim).filter(_.nonEmpty).toSet
      finally src.close()
    }
  }

  /** The producer half through the REAL DataSource-V2 streaming-write
    * contract (`SupportsWrite` + `StreamingWrite`), with a two-phase
    * commit mirroring a transactional producer:
    *
    *  1. every task writes its rows to a task-attempt-unique spool file
    *     (`.epoch-<e>-task-<t>-<a>.spool`) — retries and speculative
    *     duplicates never touch the log;
    *  2. the driver's `commit(epochId, messages)` takes the log's one
    *     commit lock and streams the spooled records, in (partitionId,
    *     row) order, through the one tail writer [[appendRecords]] that
    *     [[append]] uses too: broker-style continued offsets, then the
    *     `<queryId>:<epochId>` line in `_epochs`. A REPLAYED epoch
    *     (micro-batch retry after a sink failure) finds its line there
    *     and is skipped wholesale, giving exactly-once log contents;
    *  3. `abort` deletes the spools.
    *
    * Only spool PATHS travel through commit messages — record bytes stay
    * on the (shared) filesystem, the same locality contract as
    * [[writeLog]]: in production the producer IS Kafka; this sink exists
    * so the full stream→topic→stream loop runs under the oracle gate. */
  final case class SpoolMsg(path: String, partitionId: Int)
      extends org.apache.spark.sql.connector.write.WriterCommitMessage

  /** Filesystem-safe query discriminator for spool names. */
  private[sources] def querySlug(queryId: String): String = {
    val cleaned = queryId.filter(c => c.isLetterOrDigit || c == '-')
    if (cleaned.isEmpty) "q" else cleaned
  }

  /** Delete every spool of THIS query at `upToEpoch` or older (r15
    * review): a commit that crashed after the ledger write but before
    * its spool deletions left files no later replay ever references —
    * a permanent disk leak. Those epochs are ledgered (batch ids are
    * checkpoint-monotone), so their spools can never be needed again.
    * Scoped by the query slug so a sibling query's LIVE spools in a
    * shared dir are untouched. */
  private def sweepSpools(dir: File, qslug: String, upToEpoch: Long): Unit = {
    val marker = s"-$qslug-task-"
    Option(dir.listFiles()).getOrElse(Array.empty[File]).foreach { f =>
      val n = f.getName
      if (n.startsWith(".epoch-") && n.endsWith(".spool") && n.contains(marker)) {
        val e = n.stripPrefix(".epoch-").takeWhile(_ != '-')
        if (e.toLongOption.exists(_ <= upToEpoch)) f.delete(): Unit
      }
    }
  }

  /** Task-side spool writer (serializable — ships to executors).
    * Spool names carry the QUERY slug (r15 review): two queries sharing
    * one log dir — the configuration the query-scoped ledger exists to
    * support — run in separate JVMs whose taskIds both start near 0, so
    * without the slug both could construct the same spool path at the
    * same epoch number and truncate each other's in-flight records. */
  final case class SpoolWriterFactory(path: String, qslug: String,
      keyIdx: Int, valIdx: Int, partIdx: Int, tsIdx: Int)
      extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
    override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
        : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
      new org.apache.spark.sql.connector.write.DataWriter[InternalRow] {
        private val spool = new File(path,
          f".epoch-$epochId-$qslug-task-$partitionId%05d-$taskId.spool")
        spool.getParentFile.mkdirs()
        private val out = new DataOutputStream(new BufferedOutputStream(
          new FileOutputStream(spool, false)))
        override def write(row: InternalRow): Unit = {
          out.writeInt(if (row.isNullAt(partIdx)) 0 else row.getInt(partIdx))
          out.writeLong(if (tsIdx >= 0 && !row.isNullAt(tsIdx)) row.getLong(tsIdx) else 0L)
          val k = if (row.isNullAt(keyIdx)) null else row.getBinary(keyIdx)
          if (k == null) out.writeInt(-1) else { out.writeInt(k.length); out.write(k) }
          val v = if (row.isNullAt(valIdx)) null else row.getBinary(valIdx)
          if (v == null) out.writeInt(-1) else { out.writeInt(v.length); out.write(v) }
        }
        override def commit()
            : org.apache.spark.sql.connector.write.WriterCommitMessage = {
          out.close(); SpoolMsg(spool.getPath, partitionId)
        }
        override def abort(): Unit = { out.close(); spool.delete(); () }
        override def close(): Unit = out.close()
      }
  }

  final class ReplayStreamingWrite(path: String, inputSchema: StructType,
      queryId: String = "")
      extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
    import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
    import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory

    override def createStreamingWriterFactory(
        info: PhysicalWriteInfo): StreamingDataWriterFactory =
      SpoolWriterFactory(path, KafkaReplay.querySlug(queryId),
        inputSchema.fieldIndex("key"),
        inputSchema.fieldIndex("value"),
        inputSchema.fieldIndex("partition"),
        inputSchema.fields.indexWhere(_.name == "timestamp"))

    override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
      val dir = new File(path)
      dir.mkdirs()
      val spools = messages.collect { case m: SpoolMsg => m }.sortBy(_.partitionId)
      // ledger entries are QUERY-scoped: epoch ids are per-query batch
      // ids starting at 0, so two queries (or a restart with a fresh
      // checkpoint) sharing one log dir would collide on bare epoch ids
      // and the second writer's batches would be silently dropped
      val ledgerKey = s"$queryId:$epochId"
      withCommitLock(dir) {
        // undo a torn append BEFORE consulting the ledger (see the
        // commit-protocol note above withCommitLock)
        recoverTornAppend(dir)
        // a ledgered key is a replayed epoch: drop its spools unwritten
        if (!committedEpochs(dir).contains(ledgerKey))
          appendRecords(dir, ledgerKey, ledger = true) { emit =>
            spools.foreach(m => readSpool(new File(m.path))(emit))
          }
        spools.foreach(m => new File(m.path).delete())
        // orphans from attempts that crashed after their ledger write but
        // before their spool deletions — ledgered epochs never replay, so
        // anything at this epoch or older is dead weight
        sweepSpools(dir, querySlug(queryId), epochId)
      }
    }

    override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
      messages.collect { case m: SpoolMsg => m }
        .foreach(m => new File(m.path).delete())
  }

  final class ReplayTable(options: CaseInsensitiveStringMap)
      extends Table with SupportsRead
      with org.apache.spark.sql.connector.catalog.SupportsWrite {
    private val path = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(s"$ShortName requires option 'path'"))
    private val topic = Option(options.get("topic")).getOrElse("replay")
    override def name(): String = s"$ShortName($path)"
    override def schema(): StructType = KafkaReplay.schema
    override def capabilities(): java.util.Set[TableCapability] =
      Set(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ,
        TableCapability.STREAMING_WRITE).asJava
    override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
      new ReplayScan(path, topic,
        Option(o.get("maxOffsetsPerTrigger")).map(_.toLong),
        Option(o.get("startingOffsets")).getOrElse("earliest"),
        Option(o.get("endingOffsets")).getOrElse("latest"))
    override def newWriteBuilder(
        info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
        : org.apache.spark.sql.connector.write.WriteBuilder = {
      val in = info.schema()
      // names AND types (r15 review): the spool writer's typed getters
      // (row.getInt/getBinary/getLong) would otherwise fail as an opaque
      // executor ClassCastException instead of this message
      val expected = Seq("key" -> BinaryType, "value" -> BinaryType,
        "partition" -> IntegerType)
      val mismatch = expected.exists { case (c, t) =>
        in.fields.find(_.name == c).forall(_.dataType != t) } ||
        in.fields.find(_.name == "timestamp").exists(f =>
          f.dataType != LongType && f.dataType != TimestampType)
      require(!mismatch,
        s"$ShortName sink needs columns (key binary, value binary, partition int" +
          s"[, timestamp long]); got ${in.fields.map(f =>
            s"${f.name} ${f.dataType.simpleString}").mkString(", ")}")
      new org.apache.spark.sql.connector.write.WriteBuilder {
        override def build(): org.apache.spark.sql.connector.write.Write =
          new org.apache.spark.sql.connector.write.Write {
            override def toStreaming
                : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
              new ReplayStreamingWrite(path, in, info.queryId())
          }
      }
    }
  }
}

/** Registered as `graft-kafka-replay` via META-INF/services
  * (`DataSourceRegister`), so call sites use the short name exactly like
  * `format("kafka")`. */
class KafkaReplayProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = KafkaReplay.ShortName
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    KafkaReplay.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new KafkaReplay.ReplayTable(new CaseInsensitiveStringMap(properties))
}
