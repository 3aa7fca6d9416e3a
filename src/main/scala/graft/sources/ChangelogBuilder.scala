package graft.sources

import java.sql.Timestamp
import graft.model.{ColumnSpec, TableSchema}

/** Builds changelog entries from an ordered pgoutput message stream:
  * transaction framing (Begin/Commit), per-transaction sequence
  * numbers, relation-cache lookup, and text-cell marshalling to
  * native values.
  *
  * This mirrors the reference's three chained stages —
  * Sequence (pkg/subscription/sequence.go:24-52), the relation cache
  * (pkg/subscription/changelog.go:27-63), and MarshalTuple
  * (pkg/subscription/marshal.go:15-44) — collapsed into one
  * deliberately single-threaded pass: ordering is the correctness
  * contract ("Double check assumptions about acknowledgement order
  * before removing ordering", changelog.go:38-41). Spark parallelism
  * happens *after* this decode, on the envelope DataFrames.
  */
object ChangelogBuilder {

  sealed trait Entry
  /** Schema event: a Relation message seen for the first time (or
    * changed) — emitted before any row of that table
    * (reference: pkg/subscription/changelog.go:27-36). */
  final case class SchemaEntry(timestamp: Timestamp, lsn: Option[Long],
      schema: TableSchema) extends Entry
  /** Row change stamped with commit timestamp + begin LSN + sequence
    * (reference: pkg/changelog/modification.go:11-18,
    * subscription/changelog.go:66-124). */
  /** @param unchangedToast column names whose *after* cell arrived as
    *   an unchanged-TOAST marker ('u'): the value is not on the wire
    *   and must be merged from the row's previous image at read time
    *   (see ChangelogOps.latestRowsMerged). Empty for inserts/deletes.
    */
  final case class ModificationEntry(
      timestamp: Timestamp,
      namespace: String,
      name: String,
      lsn: Option[Long],
      sequence: Option[Long],
      before: Option[Map[String, Any]],
      after: Option[Map[String, Any]],
      unchangedToast: Seq[String] = Nil) extends Entry

  /** Table truncation at a changelog position: everything at or
    * before (timestamp, lsn, sequence) is logically gone from the
    * table's latest state. The raw history stays (audit/time-travel);
    * sinks record the marker and latest views filter on it. */
  final case class TruncateEntry(
      timestamp: Timestamp,
      lsn: Option[Long],
      sequence: Option[Long],
      schema: TableSchema) extends Entry

  final case class UnknownRelationException(id: Long)
      extends RuntimeException(
        s"received row for unknown relation $id: relation message must precede rows")

  /** One-shot build over a complete ordered stream. */
  def build(messages: Iterator[PgOutput.Message]): Iterator[Entry] =
    new ChangelogBuilder().push(messages)

  private[graft] def micros2ts(unixMicros: Long): Timestamp = {
    val ts = new Timestamp(Math.floorDiv(unixMicros, 1000000L) * 1000L)
    ts.setNanos((Math.floorMod(unixMicros, 1000000L) * 1000L).toInt)
    ts
  }
}

/** Stateful builder: the relation cache and transaction frame survive
  * across `push` calls, so a streaming consumer can feed successive
  * micro-batches and relations declared in earlier batches remain
  * known — exactly the lifetime of the reference's relation cache
  * across its receive loop (pkg/subscription/changelog.go:27-63).
  */
final class ChangelogBuilder {
  import ChangelogBuilder._

  // guaranteed ordering => plain mutable maps, like the reference's
  // deliberately unsynchronised relation cache (changelog.go:34-41)
  private val relations = scala.collection.mutable.Map.empty[Long, TableSchema]
  private val fingerprints = scala.collection.mutable.Map.empty[Long, String]
  private var txnLsn: Option[Long] = None
  private var txnTime: Timestamp = new Timestamp(0)
  private var sequence = 0L
  private var committed: Option[Long] = None

  /** LSN of the last Commit decoded: the highest position whose
    * transaction is whole in the output, so the one an ack may
    * confirm. A batch that ends mid-transaction leaves it unchanged. */
  def lastCommitLsn: Option[Long] = committed

  /** Known schema by qualified `namespace.name` — lets a consumer
    * resolve tables whose Schema entry arrived in an earlier batch
    * (the cache outlives flush epochs, like the reference's). */
  def schemaOf(qualified: String): Option[TableSchema] =
    relations.values.find(_.ref.qualified == qualified)

  def push(messages: Iterator[PgOutput.Message]): Iterator[Entry] = {
    messages.flatMap {
      case PgOutput.Begin(finalLsn, tsMicros, _) =>
        txnLsn = Some(finalLsn)
        txnTime = micros2ts(PgOutput.toUnixMicros(tsMicros))
        sequence = 0L
        Nil
      case c: PgOutput.Commit =>
        committed = Some(c.commitLsn)
        txnLsn = None
        Nil
      case r: PgOutput.Relation =>
        val schema = TableSchema(r.id, r.namespace, r.name,
          r.columns.map(c => ColumnSpec(c.name, c.typeOid.toInt, c.key, c.modifier)))
        relations(r.id) = schema
        // fingerprint gate: re-emitting identical schemas is harmless
        // but noisy; the reference dedupes in the sink — we dedupe at
        // the source too (changelog.Schema fingerprint semantics,
        // pkg/changelog/schema.go:61-67)
        if (fingerprints.get(r.id).contains(schema.fingerprint)) Nil
        else {
          fingerprints(r.id) = schema.fingerprint
          Seq(SchemaEntry(txnTime, txnLsn, schema))
        }
      case PgOutput.Insert(relId, tuple) =>
        val rel = relations.getOrElse(relId, throw UnknownRelationException(relId))
        sequence += 1
        Seq(ModificationEntry(txnTime, rel.namespace, rel.name, txnLsn,
          Some(sequence), None, Some(marshal(rel, tuple))))
      case PgOutput.Update(relId, _, oldTuple, newTuple) =>
        val rel = relations.getOrElse(relId, throw UnknownRelationException(relId))
        sequence += 1
        Seq(ModificationEntry(txnTime, rel.namespace, rel.name, txnLsn,
          Some(sequence), oldTuple.map(marshal(rel, _)), Some(marshal(rel, newTuple)),
          unchangedToast = unchangedColumns(rel, newTuple)))
      case PgOutput.Delete(relId, _, oldTuple) =>
        val rel = relations.getOrElse(relId, throw UnknownRelationException(relId))
        sequence += 1
        Seq(ModificationEntry(txnTime, rel.namespace, rel.name, txnLsn,
          Some(sequence), Some(marshal(rel, oldTuple)), None))
      case PgOutput.Truncate(_, relationIds) =>
        // one entry per truncated relation, each taking the next
        // sequence slot — a truncate orders against row changes in
        // the same transaction exactly like a modification would
        relationIds.map { relId =>
          val rel = relations.getOrElse(relId,
            throw UnknownRelationException(relId))
          sequence += 1
          TruncateEntry(txnTime, txnLsn, Some(sequence), rel)
        }
      case _: PgOutput.Origin | _: PgOutput.PgType => Nil
    }
  }

  /** Decode one tuple through the relation's per-column OID decoders
    * into a column-name-keyed row (reference:
    * pkg/subscription/marshal.go:15-44: 'n' => nil, 'u' => skip,
    * 't' => scanner decode). Unchanged-TOAST cells are omitted from
    * the map; their column names travel separately on
    * [[ModificationEntry.unchangedToast]] so readers can distinguish
    * "column is NULL" from "column unchanged" and merge the value
    * from the previous image (ChangelogOps.latestRowsMerged). The
    * reference emits such cells as nulls (marshal.go:29-40), silently
    * conflating the two — we keep the marker instead.
    */
  def marshal(rel: TableSchema, tuple: PgOutput.TupleData): Map[String, Any] = {
    val out = Map.newBuilder[String, Any]
    rel.columns.zip(tuple.elements).foreach { case (col, cell) =>
      if (cell.isNull) out += col.name -> null
      else if (!cell.isUnchangedToast)
        out += col.name -> TextDecode.decode(col.pgOid, cell.text.get)
    }
    out.result()
  }

  /** Column names carried as unchanged-TOAST markers in this tuple. */
  def unchangedColumns(rel: TableSchema, tuple: PgOutput.TupleData): Seq[String] =
    rel.columns.zip(tuple.elements).collect {
      case (col, cell) if cell.isUnchangedToast => col.name
    }
}

/** Postgres text-format decoding per OID — the engine-side analogue
  * of the reference's per-OID scanner registry
  * (reference: pkg/decode/decode.go:52-95, mappings
  * pkg/decode/gen/mappings/mappings.go:19-212). numeric decodes to
  * Double (lossy by design, mappings.go:200-205).
  */
object TextDecode {
  import graft.model.PgTypes.{Timestamp => TsOid, _}

  def decode(oid: Int, text: String): Any = oid match {
    case Bool => text == "t"
    case Bytea => hexToBytes(text)
    case Int8 | Oid | Xid | Cid => text.toLong
    case Int2 => text.toShort
    case Int4 => text.toInt
    case Name | Text | Varchar | Json | Jsonb => text
    case Float4 => text.toFloat
    case Float8 | Numeric => text.toDouble
    case Date => java.sql.Date.valueOf(text)
    case TsOid | Time => parseTimestamp(text)
    case Timestamptz => parseTimestamptz(text)
    case BoolArr | Int2Arr | Int4Arr | Int8Arr | TextArr | VarcharArr |
        Float4Arr | Float8Arr | NumericArr | DateArr | TimestampArr |
        TimestamptzArr =>
      parseArray(text).map(el => if (el == null) null else decode(elementOid(oid), el))
    case other => throw UnregisteredTypeException(other)
  }

  private def elementOid(arrOid: Int): Int = arrOid match {
    case BoolArr => Bool
    case Int2Arr => Int2
    case Int4Arr => Int4
    case Int8Arr => Int8
    case TextArr => Text
    case VarcharArr => Varchar
    case Float4Arr => Float4
    case Float8Arr => Float8
    case NumericArr => Numeric
    case DateArr => Date
    case TimestampArr => TsOid
    case TimestamptzArr => Timestamptz
  }

  /** `\x0123ab` → bytes (Postgres hex output format). */
  private def hexToBytes(s: String): Array[Byte] = {
    val hex = if (s.startsWith("\\x")) s.substring(2) else s
    hex.sliding(2, 2).map(Integer.parseInt(_, 16).toByte).toArray
  }

  /** A trailing `+hh`/`-hh`/`+hhmm`/`+hh:mm` offset, compiled once:
    * `String.replaceAll` would compile it again for every cell. */
  private val TrailingOffset =
    java.util.regex.Pattern.compile("[+-]\\d\\d(:?\\d\\d)?$")

  /** `2024-01-02 03:04:05.123456` or time-of-day `03:04:05` — the
    * reference coerces all temporal types to time.Time; we coerce to
    * java.sql.Timestamp (time-of-day on the epoch date), read as JVM
    * wall time since the value names no zone. */
  private def parseTimestamp(s: String): java.sql.Timestamp = {
    val noTz = TrailingOffset.matcher(s).replaceFirst("")
    val full = if (noTz.contains(" ") || noTz.contains("T")) noTz
      else s"1970-01-01 $noTz"
    java.sql.Timestamp.valueOf(full.replace('T', ' '))
  }

  /** `2024-01-02 03:04:05.123456+05:30` → the instant it names.
    * Postgres prints timestamptz as wall time in the session zone plus
    * that zone's UTC offset (`+hh`, `+hh:mm` or `+hh:mm:ss`); applying
    * the offset makes the value independent of the JVM's zone and
    * equal to what the JDBC import path reads for the same row. */
  private def parseTimestamptz(s: String): java.sql.Timestamp = {
    val at = math.max(s.lastIndexOf('+'), s.lastIndexOf('-'))
    require(at > 10, s"timestamptz without a UTC offset: $s")
    java.sql.Timestamp.from(java.time.LocalDateTime
      .parse(s.substring(0, at).replace(' ', 'T'))
      .toInstant(java.time.ZoneOffset.of(s.substring(at))))
  }

  /** Minimal Postgres array-literal parser: `{a,b,NULL,"c,d"}`. */
  private[sources] def parseArray(s: String): Seq[String] = {
    require(s.startsWith("{") && s.endsWith("}"), s"not an array literal: $s")
    val body = s.substring(1, s.length - 1)
    if (body.isEmpty) return Nil
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var inQuotes = false
    var escaped = false
    var quoted = false
    def flush(): Unit = {
      val v = cur.toString
      out += (if (!quoted && v == "NULL") null else v)
      cur.clear(); quoted = false
    }
    body.foreach { ch =>
      if (escaped) { cur += ch; escaped = false }
      else ch match {
        case '\\' => escaped = true
        case '"' => inQuotes = !inQuotes; quoted = true
        case ',' if !inQuotes => flush()
        case c => cur += c
      }
    }
    flush()
    out.result()
  }
}
