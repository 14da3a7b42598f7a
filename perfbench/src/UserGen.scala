package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.EncoderFactory

import graft.sources.KafkaReplay

/** Seeded producer of Confluent-framed Avro `User` records for the replay
  * log, with the ledger of what the pipeline must do with each one.
  *
  * Record `i` of seed `s` depends only on `(s, i)`, so a log written in
  * one call or in many timed appends holds the same bytes. User ids are
  * unique, so the audit join is 1:1.
  *
  * The mix covers every branch of the ingest path. Where the reference
  * producer's fixture (4 records, `producer.py:46-61`) fixes a share, the
  * mix takes it: a quarter of the decodable records fail the name filter,
  * as its record 2 with an empty first name does. The filter's four
  * branches (empty, whitespace-only and null first name, null last name)
  * are equally likely among them. The other shares are synthetic, because
  * the fixture has none of these records; they are small so that valid
  * records carry the work: 2 % tombstones (null value, passed through by
  * the transform), 1 % truncated payloads (dead letters of the permissive
  * decode) and, among decodable records, 40 % written with the evolved
  * schema v2 (id 9) beside the fixture's v1 (id 7), so that the decode
  * resolves two writer schemas.
  */
object UserGen {
  val Partitions = 4
  val IdV1 = 7
  val IdV2 = 9

  private val address =
    """{"name": "address", "type": {"type": "record", "name": "Address",
      |  "fields": [
      |    {"name": "street", "type": "string"},
      |    {"name": "city", "type": "string"},
      |    {"name": "zip_code", "type": "string"}]}}""".stripMargin

  private val v1Fields =
    """{"name": "user_id", "type": "string"},
      |{"name": "first_name", "type": ["null", "string"], "default": null},
      |{"name": "last_name", "type": ["null", "string"], "default": null},
      |{"name": "email", "type": "string"},
      |{"name": "age", "type": "int"},
      |{"name": "raw_password_hash", "type": "string"},
      |{"name": "internal_tracking_code", "type": "string"},""".stripMargin

  private def schema(fields: String): String =
    s"""{"type": "record", "name": "User", "namespace": "com.dorjee.avro",
       | "fields": [$fields]}""".stripMargin

  /** The producer's original value schema. */
  val V1Json: String = schema(v1Fields + "\n" + address)
  /** The evolved writer: adds `status` with a default. Also the reader. */
  val V2Json: String = schema(v1Fields +
    """{"name": "status", "type": "string", "default": "active"},""" + "\n" + address)
  val Registry: Map[Int, String] = Map(IdV1 -> V1Json, IdV2 -> V2Json)
  val ReaderJson: String = V2Json

  /** Expected outcome counts. `kept` rows reach the sink; `filtered` rows
    * decode but fail the null/blank-name filter; `deadLetters` are present
    * but undecodable values; `tombstones` have a null value. */
  final case class Ledger(total: Long, tombstones: Long, deadLetters: Long,
      keptV1: Long, keptV2: Long, filteredV1: Long, filteredV2: Long) {
    def kept: Long = keptV1 + keptV2
    def filtered: Long = filteredV1 + filteredV2
    def live: Long = total - tombstones - deadLetters
    def +(o: Ledger): Ledger = Ledger(total + o.total, tombstones + o.tombstones,
      deadLetters + o.deadLetters, keptV1 + o.keptV1, keptV2 + o.keptV2,
      filteredV1 + o.filteredV1, filteredV2 + o.filteredV2)
    def toMap: Map[String, Long] = Map("total" -> total, "tombstones" -> tombstones,
      "dead_letters" -> deadLetters, "kept" -> kept, "filtered" -> filtered,
      "kept_v1" -> keptV1, "kept_v2" -> keptV2,
      "filtered_v1" -> filteredV1, "filtered_v2" -> filteredV2)
  }
  val EmptyLedger: Ledger = Ledger(0, 0, 0, 0, 0, 0, 0)

  private lazy val schemaV1 = new Schema.Parser().parse(V1Json)
  private lazy val schemaV2 = new Schema.Parser().parse(V2Json)
  private val Statuses = Array("active", "idle", "suspended")

  private def frame(id: Int, s: Schema, r: GenericRecord): Array[Byte] = {
    val out = new ByteArrayOutputStream(160)
    out.write(0)
    out.write(Array((id >>> 24).toByte, (id >>> 16).toByte, (id >>> 8).toByte, id.toByte))
    val enc = EncoderFactory.get().binaryEncoder(out, null)
    new GenericDatumWriter[GenericRecord](s).write(r, enc)
    enc.flush()
    out.toByteArray
  }

  private def user(s: Schema, idx: Long, rng: SplittableRandom,
      first: String, last: String): GenericRecord = {
    val a = new GenericData.Record(s.getField("address").schema())
    a.put("street", s"${rng.nextInt(1, 999)} Main St")
    a.put("city", s"City${rng.nextInt(0, 50)}")
    a.put("zip_code", f"${rng.nextInt(0, 100000)}%05d")
    val r = new GenericData.Record(s)
    r.put("user_id", s"u$idx")
    r.put("first_name", first)
    r.put("last_name", last)
    r.put("email", s"user$idx@example.com")
    r.put("age", rng.nextInt(10, 81))
    r.put("raw_password_hash", java.lang.Long.toHexString(rng.nextLong()))
    r.put("internal_tracking_code", s"TRACK_${rng.nextInt(0, 1000)}")
    r.put("address", a)
    if (s.getField("status") != null) r.put("status", Statuses(rng.nextInt(Statuses.length)))
    r
  }

  /** Record `idx` of `seed`, stamped `tsMicros`, and its ledger entry. */
  def record(seed: Long, idx: Long, tsMicros: Long): (KafkaReplay.Record, Ledger) = {
    val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + idx)
    val key = s"u$idx".getBytes(UTF_8)
    val part = (idx % Partitions).toInt
    val kind = rng.nextDouble()
    if (kind < 0.02)
      (KafkaReplay.Record(part, key, null, tsMicros), Ledger(1, 1, 0, 0, 0, 0, 0))
    else if (kind < 0.03) {
      // truncated mid-record: the frame header is intact, the body ends early
      val whole = frame(IdV1, schemaV1, user(schemaV1, idx, rng, "Ann", "Lee"))
      (KafkaReplay.Record(part, key, java.util.Arrays.copyOf(whole, whole.length / 2),
        tsMicros), Ledger(1, 0, 1, 0, 0, 0, 0))
    } else {
      val v2 = rng.nextDouble() < 0.4
      // filter branch 0-3, or -1 for a record that passes the filter
      val bad = if (rng.nextDouble() < 0.25) rng.nextInt(4) else -1
      val first = bad match {
        case 0 => ""
        case 1 => " \t"
        case 2 => null
        case _ => s"First${rng.nextInt(0, 5000)}"
      }
      val last = if (bad == 3) null else s"Last${rng.nextInt(0, 5000)}"
      val keep = bad < 0
      val value = if (v2) frame(IdV2, schemaV2, user(schemaV2, idx, rng, first, last))
        else frame(IdV1, schemaV1, user(schemaV1, idx, rng, first, last))
      val l = (v2, keep) match {
        case (false, true) => Ledger(1, 0, 0, 1, 0, 0, 0)
        case (true, true) => Ledger(1, 0, 0, 0, 1, 0, 0)
        case (false, false) => Ledger(1, 0, 0, 0, 0, 1, 0)
        case (true, false) => Ledger(1, 0, 0, 0, 0, 0, 1)
      }
      (KafkaReplay.Record(part, key, value, tsMicros), l)
    }
  }

  /** Records `[from, until)` of `seed`, all stamped `tsMicros`. */
  def batch(seed: Long, from: Long, until: Long, tsMicros: Long)
      : (Seq[KafkaReplay.Record], Ledger) = {
    val rs = (from until until).map(i => record(seed, i, tsMicros))
    (rs.map(_._1), rs.map(_._2).foldLeft(EmptyLedger)(_ + _))
  }
}
