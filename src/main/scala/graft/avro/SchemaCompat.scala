package graft.avro

import scala.jdk.CollectionConverters._

import org.apache.avro.SchemaCompatibility
import org.apache.avro.SchemaCompatibility.SchemaCompatibilityType

/** Local Avro schema-compatibility checking over the runtime's own
  * resolver rules (`org.apache.avro.SchemaCompatibility`, in Spark's
  * avro-1.12.1 jar) — the enforcement a Confluent registry performs
  * server-side on register (reference analog: the compatibility surface
  * of the registry container in `/root/reference/docker-compose.yml`),
  * available HERE as pipeline pre-flight with no broker in the loop.
  *
  * Why a pre-flight matters: Avro resolution errors surface at RECORD
  * construction, i.e. executor-side, per task — and in permissive decode
  * mode they don't surface at all (the per-row malformed-skip catch
  * nulls every record, and the downstream `.filter(isNotNull)` silently
  * drops the whole dataset). An incompatible READER SCHEMA is a
  * configuration error, not a data error, so it must fail on the driver
  * at analysis time with the offending paths named. [[AvroDecode]] runs
  * this check whenever an evolution read is requested.
  */
object SchemaCompat {

  /** The incompatibility list for "can a reader with `readerJson` read
    * data written with `writerJson`" — empty means compatible. Each
    * entry names the type of mismatch, the schema location, and the
    * resolver's message (e.g. READER_FIELD_MISSING_DEFAULT_VALUE at
    * /fields/3: tier). Avro's checker implements the full resolution
    * spec: defaults, numeric promotions, union subsumption, aliases. */
  def incompatibilities(readerJson: String, writerJson: String): Seq[String] = {
    val result = SchemaCompatibility.checkReaderWriterCompatibility(
      AvroCodec.parsedSchema(readerJson), AvroCodec.parsedSchema(writerJson))
    if (result.getType == SchemaCompatibilityType.COMPATIBLE) Seq.empty
    else result.getResult.getIncompatibilities.asScala.toSeq.map(i =>
      s"${i.getType} at ${i.getLocation}: ${i.getMessage}")
  }

  /** BACKWARD compatibility (the registry default the reference estate
    * runs): consumers on the NEW schema must read data produced under
    * the OLD one. Returns the violation list; empty = safe to register. */
  def checkBackward(newJson: String, oldJson: String): Seq[String] =
    incompatibilities(readerJson = newJson, writerJson = oldJson)

  /** FORWARD compatibility: data produced under the NEW schema must
    * remain readable by consumers still on the OLD one. */
  def checkForward(newJson: String, oldJson: String): Seq[String] =
    incompatibilities(readerJson = oldJson, writerJson = newJson)

  /** FULL = backward ∧ forward. */
  def checkFull(newJson: String, oldJson: String): Seq[String] =
    (checkBackward(newJson, oldJson).map("backward: " + _) ++
      checkForward(newJson, oldJson).map("forward: " + _))

  /** True iff the resolver location sits inside a union branch. Avro's
    * incompatibility locations are JSON-pointer paths into the reader
    * schema (`/fields/2/type`, `/fields/3/type/1`); the only integer
    * segments are field indexes (directly after `fields`) and union
    * branch indexes — so any integer NOT preceded by `fields` marks a
    * union branch. */
  private def insideUnionBranch(location: String): Boolean =
    hasBranchIndex(segments(location))

  private def segments(location: String): Array[String] =
    location.split("/").filter(_.nonEmpty)

  private def hasBranchIndex(segs: Array[String]): Boolean =
    segs.zipWithIndex.exists { case (s, i) =>
      s.nonEmpty && s.forall(_.isDigit) && (i == 0 || segs(i - 1) != "fields")
    }

  /** `(parent location segments, branch index)` when the location's LAST
    * segment is a union branch index — probe-measured against avro-1.12
    * (BENCH_NOTES.md, r17): per-branch mismatch entries carry the
    * WRITER union's branch index as their trailing segment
    * (`/fields/0/type/1` = writer branch 1), while field indexes follow
    * the READER's field order. */
  private def trailingBranchIndex(location: String): Option[(Array[String], Int)] = {
    val segs = segments(location)
    if (segs.nonEmpty && segs.last.forall(_.isDigit) &&
        (segs.length < 2 || segs(segs.length - 2) != "fields"))
      Some((segs.dropRight(1), segs.last.toInt))
    else None
  }

  /** The (reader, writer) schema pair at a resolver location, walking
    * both schemas in lockstep: `fields/<i>` indexes the READER's field
    * list (probe case J: locations keep reader field order under
    * reordering) and hops to the writer's field BY NAME — the same
    * pairing Avro resolution uses. Any segment this walk doesn't
    * understand (aliases, a mid-path union index) returns None and the
    * caller falls back to the pre-r17 skippable classification — never
    * a false gate. */
  private def schemasAt(readerJson: String, writerJson: String,
      parent: Array[String])
      : Option[(org.apache.avro.Schema, org.apache.avro.Schema)] =
    try {
      var r = AvroCodec.parsedSchema(readerJson)
      var w = AvroCodec.parsedSchema(writerJson)
      var i = 0
      while (i < parent.length) {
        parent(i) match {
          case "fields" if i + 1 < parent.length && parent(i + 1).forall(_.isDigit) =>
            val rf = r.getFields.get(parent(i + 1).toInt)
            val wf = w.getField(rf.name)
            if (wf == null) return None
            r = rf.schema; w = wf.schema()
            i += 2
            // the per-field subpath is /fields/N/type — consume the marker
            if (i < parent.length && parent(i) == "type") i += 1
          case "items" =>
            r = r.getElementType; w = w.getElementType; i += 1
          case "values" =>
            r = r.getValueType; w = w.getValueType; i += 1
          case _ => return None
        }
      }
      Some((r, w))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Branch count of the WRITER union at a parent location (the
    * union-coverage gate's input). */
  private def writerUnionSizeAt(readerJson: String, writerJson: String,
      parent: Array[String]): Option[Int] =
    schemasAt(readerJson, writerJson, parent).collect {
      case (_, w) if w.getType == org.apache.avro.Schema.Type.UNION =>
        w.getTypes.size
    }

  /** The subset of [[incompatibilities]] that fail EVERY record — as
    * opposed to data-dependent ones (e.g. MISSING_UNION_BRANCH, which
    * only fails the records actually carrying the dropped branch and is
    * exactly what permissive mode's per-row DROPMALFORMED semantic is
    * for). A reader field without a default must be filled for every
    * record; a mismatched record name fails resolution outright; and a
    * non-union TYPE_MISMATCH (reader int vs writer string at a plain
    * record field) likewise fails every record — without gating it, a
    * permissive evolution read passes pre-flight and silently nulls the
    * whole dataset (r15 ADVICE). TYPE_MISMATCH *inside* a union branch
    * stays skippable: only the records carrying that branch fail.
    *
    * MISSING_UNION_BRANCH splits on the SAME location rule (r16,
    * measured against avro-1.12's checker): when the WRITER side is a
    * union the location carries the unmatched branch's index
    * (`/fields/0/type/1`) and only records carrying that branch fail —
    * the documented data-dependent case. But when the writer is a
    * PLAIN type that a reader union lacks (reader `["null","int"]` vs
    * writer `string`), the checker still says MISSING_UNION_BRANCH
    * while the location has no branch index (`/fields/0/type`) — and
    * every record carries that one concrete type, so a permissive read
    * drops the whole dataset. Gate it. These are config errors under
    * ANY data, so even a permissive read should refuse the plan. */
  def totalIncompatibilities(readerJson: String, writerJson: String): Seq[String] = {
    val result = SchemaCompatibility.checkReaderWriterCompatibility(
      AvroCodec.parsedSchema(readerJson), AvroCodec.parsedSchema(writerJson))
    if (result.getType == SchemaCompatibilityType.COMPATIBLE) return Seq.empty
    val all = result.getResult.getIncompatibilities.asScala.toSeq
    def render(i: SchemaCompatibility.Incompatibility) =
      s"${i.getType} at ${i.getLocation}: ${i.getMessage}"
    val always = all.collect {
      case i if i.getType.name == "READER_FIELD_MISSING_DEFAULT_VALUE" ||
          i.getType.name == "NAME_MISMATCH" ||
          ((i.getType.name == "TYPE_MISMATCH" ||
            i.getType.name == "MISSING_UNION_BRANCH" ||
            // a fixed-size flip fails every record carrying the type;
            // nested in a union branch the checker reports it as that
            // branch's MISSING_UNION_BRANCH instead (probe case R), so
            // a direct FIXED_SIZE_MISMATCH outside a branch is total
            // (r17 probe case L — previously skipped, silent full loss)
            i.getType.name == "FIXED_SIZE_MISMATCH") &&
            !insideUnionBranch(i.getLocation)) => render(i)
    }
    // MISSING_ENUM_SYMBOLS is data-dependent in general (only records
    // carrying a dropped symbol fail — probe case N), but when the
    // reader shares NO symbol with the writer and declares no enum
    // default, every record fails (probe case M) — total, gate it. The
    // location ends in /symbols; navigate to the enum pair and compare
    // symbol sets. With a reader default the checker reports nothing
    // (probe case O), so the default check is belt-and-braces.
    val enumTotal = all.filter(i =>
      i.getType.name == "MISSING_ENUM_SYMBOLS" &&
        !insideUnionBranch(i.getLocation)).flatMap { i =>
      val segs = segments(i.getLocation)
      val parent = if (segs.nonEmpty && segs.last == "symbols")
        segs.dropRight(1) else segs
      schemasAt(readerJson, writerJson, parent) match {
        case Some((r, w))
            if r.getType == org.apache.avro.Schema.Type.ENUM &&
              w.getType == org.apache.avro.Schema.Type.ENUM &&
              r.getEnumDefault == null &&
              !w.getEnumSymbols.asScala.exists(r.getEnumSymbols.contains(_)) =>
          Some(render(i))
        case _ => None
      }
    }
    // Union-coverage gate (r16 ADVICE #1): a single mismatched branch is
    // data-dependent (only records carrying it fail — permissive's
    // DROPMALFORMED case), but when the mismatch set covers EVERY branch
    // of the writer union at one location, every record fails no matter
    // which branch it carries — reader plain int vs writer
    // ["null","string"] reports TYPE_MISMATCH at /type/0 AND /type/1,
    // both branch-indexed, and the old per-entry rule skipped them all.
    // Group trailing-branch-indexed TYPE_MISMATCH/MISSING_UNION_BRANCH
    // entries by parent location and gate full-coverage groups. Groups
    // whose PARENT path itself sits inside a union branch stay skippable:
    // total loss of a nested union still only fails the records carrying
    // its enclosing branch.
    val grouped = all.flatMap { i =>
      if (i.getType.name != "TYPE_MISMATCH" &&
          i.getType.name != "MISSING_UNION_BRANCH") None
      else trailingBranchIndex(i.getLocation).collect {
        case (parent, idx) if !hasBranchIndex(parent) =>
          (parent.mkString("/"), parent, idx, render(i))
      }
    }
    val covered = grouped.groupBy(_._1).values.toSeq.flatMap { entries =>
      writerUnionSizeAt(readerJson, writerJson, entries.head._2) match {
        case Some(n) if entries.map(_._3).distinct.size >= n =>
          entries.map(_._4)
        case _ => Seq.empty
      }
    }
    val extra = (enumTotal ++ covered).filterNot(always.contains)
    always ++ extra
  }
}
