package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{ChangelogBuilder, PgOutput, TextDecode}
import graft.model.PgTypes

class PgOutputSpec extends AnyFunSuite {
  import PgOutput._

  val rel = Relation(16385, "public", "one", 'd'.toByte, Seq(
    RelationColumn(key = true, "id", PgTypes.Int8, -1),
    RelationColumn(key = false, "msg", PgTypes.Text, -1)))

  def tup(cells: (Char, String)*): TupleData = TupleData(cells.map {
    case ('t', v) => Element('t', Some(v.getBytes("UTF-8")))
    case (k, _) => Element(k.toByte, None)
  })

  test("begin/commit round-trip") {
    val b = Begin(1000L, 123456789L, 42L)
    assert(decode(encodeBegin(b)) == b)
    val c = Commit(0, 1000L, 1001L, 123456789L)
    assert(decode(encodeCommit(c)) == c)
  }

  test("relation round-trip carries key flags and OIDs") {
    decode(encodeRelation(rel)) match {
      case r: Relation =>
        assert(r.id == 16385 && r.namespace == "public" && r.name == "one")
        assert(r.columns.map(_.key) == Seq(true, false))
        assert(r.columns.map(_.typeOid) == Seq(20L, 25L))
      case other => fail(s"got $other")
    }
  }

  test("insert/update/delete round-trip with null and toast cells") {
    val ins = Insert(16385, tup('t' -> "1", 't' -> "meow"))
    assert(decode(encodeInsert(ins)) == ins)
    val upd = Update(16385, Some('K'.toByte), Some(tup('t' -> "1", 'n' -> "")),
      tup('t' -> "1", 't' -> "woof"))
    assert(decode(encodeUpdate(upd)) == upd)
    val del = Delete(16385, 'K'.toByte, tup('t' -> "1", 'u' -> ""))
    assert(decode(encodeDelete(del)) == del)
  }

  test("unknown message type errors, like the reference decoder") {
    // 'T' (truncate) now DECODES — going beyond the reference, whose
    // decoder errors on it (see TruncateSpec); genuinely unknown
    // types still hard-reject
    assertThrows[UnknownMessageTypeException](decode(Array('Z'.toByte, 0, 0)))
    assertThrows[UnknownMessageTypeException](decode(Array('M'.toByte)))
  }

  test("postgres epoch conversion") {
    // 2000-01-01T00:00:00Z in pg-micros is 0 == unix 946684800s
    assert(toUnixMicros(0L) == 946684800000000L)
  }

  test("text decode: scalars, bytea hex, arrays, numeric lossy double") {
    assert(TextDecode.decode(PgTypes.Bool, "t") == true)
    assert(TextDecode.decode(PgTypes.Int8, "42") == 42L)
    assert(TextDecode.decode(PgTypes.Numeric, "3.14") == 3.14d)
    assert(TextDecode.decode(PgTypes.Bytea, "\\x0a0b")
      .asInstanceOf[Array[Byte]].toSeq == Seq(10.toByte, 11.toByte))
    assert(TextDecode.decode(PgTypes.Int4Arr, "{1,2,NULL}") == Seq(1, 2, null))
    assert(TextDecode.decode(PgTypes.TextArr, "{\"a,b\",c}") == Seq("a,b", "c"))
    assert(TextDecode.decode(PgTypes.Date, "2024-01-02") ==
      java.sql.Date.valueOf("2024-01-02"))
    assertThrows[PgTypes.UnregisteredTypeException](
      TextDecode.decode(2950, "x")) // uuid rejected
  }

  test("text decode: timestamptz applies its UTC offset, timestamp stays wall time") {
    def instant(oid: Int, text: String) =
      TextDecode.decode(oid, text).asInstanceOf[java.sql.Timestamp].toInstant
    val utc = java.time.Instant.parse _
    assert(instant(PgTypes.Timestamptz, "2024-01-02 03:04:05+05") ==
      utc("2024-01-01T22:04:05Z"))
    assert(instant(PgTypes.Timestamptz, "2024-01-02 03:04:05+05:30") ==
      utc("2024-01-01T21:34:05Z"))
    assert(instant(PgTypes.Timestamptz, "2024-01-02 03:04:05.123456+00") ==
      utc("2024-01-02T03:04:05.123456Z"))
    assert(TextDecode.decode(PgTypes.TimestamptzArr,
        "{\"2024-01-02 03:04:05-02\",NULL}") ==
      Seq(java.sql.Timestamp.from(utc("2024-01-02T05:04:05Z")), null))
    // no zone on the wire: read as JVM wall time, as before
    assert(TextDecode.decode(PgTypes.Timestamp, "2024-01-02 03:04:05.5") ==
      java.sql.Timestamp.valueOf("2024-01-02 03:04:05.5"))
  }

  test("text decode: time and timestamp keep microseconds and drop a trailing offset") {
    def ts(oid: Int, text: String) =
      TextDecode.decode(oid, text).asInstanceOf[java.sql.Timestamp]
    assert(ts(PgTypes.Time, "03:04:05") ==
      java.sql.Timestamp.valueOf("1970-01-01 03:04:05"))
    val micros = ts(PgTypes.Timestamp, "2024-01-02 03:04:05.123456")
    assert(micros == java.sql.Timestamp.valueOf("2024-01-02 03:04:05.123456"))
    assert(micros.getNanos == 123456000)
    // a zone-less type reads wall time: an offset on its text is dropped
    assert(ts(PgTypes.Timestamp, "2024-01-02 03:04:05+05") ==
      java.sql.Timestamp.valueOf("2024-01-02 03:04:05"))
    assert(ts(PgTypes.Time, "03:04:05.25-07:30") ==
      java.sql.Timestamp.valueOf("1970-01-01 03:04:05.25"))
  }

  test("changelog builder: schema precedes rows, commit ts + begin lsn stamped, sequence increments") {
    val tsMicros = 86400L * 1000000L // 2000-01-02 in pg time
    val messages = Iterator[Message](
      Begin(500L, tsMicros, 1L),
      rel2msg,
      Insert(16385, tup('t' -> "1", 't' -> "meow")),
      Insert(16385, tup('t' -> "2", 't' -> "woof")),
      Commit(0, 500L, 501L, tsMicros),
      Begin(600L, tsMicros, 2L),
      Update(16385, None, None, tup('t' -> "1", 't' -> "purr")),
      Delete(16385, 'K'.toByte, tup('t' -> "2", 'n' -> "")),
      Commit(0, 600L, 601L, tsMicros))
    val entries = ChangelogBuilder.build(messages).toVector
    assert(entries.length == 5)
    val schema = entries.head.asInstanceOf[ChangelogBuilder.SchemaEntry]
    assert(schema.schema.primaryKeys == Seq("id"))
    val mods = entries.tail.collect { case m: ChangelogBuilder.ModificationEntry => m }
    assert(mods.map(_.lsn) == Seq(Some(500L), Some(500L), Some(600L), Some(600L)))
    assert(mods.map(_.sequence) == Seq(Some(1L), Some(2L), Some(1L), Some(2L)))
    assert(mods(0).after.get("id") == 1L && mods(0).before.isEmpty)
    assert(mods(2).after.get("msg") == "purr")
    assert(mods(3).after.isEmpty && mods(3).before.get("id") == 2L)
    // commit timestamp stamped on every row
    assert(mods.forall(_.timestamp.toInstant.toString.startsWith("2000-01-02")))
  }

  test("changelog builder: row for unknown relation errors") {
    val messages = Iterator[Message](
      Begin(500L, 0L, 1L),
      Insert(99, tup('t' -> "1")))
    assertThrows[ChangelogBuilder.UnknownRelationException](
      ChangelogBuilder.build(messages).toVector)
  }

  test("changelog builder: identical relation re-emit is fingerprint-suppressed") {
    val messages = Iterator[Message](
      Begin(500L, 0L, 1L), rel2msg, rel2msg, Commit(0, 500L, 501L, 0L))
    val entries = ChangelogBuilder.build(messages).toVector
    assert(entries.count(_.isInstanceOf[ChangelogBuilder.SchemaEntry]) == 1)
  }

  private def rel2msg: Relation = rel

  test("decoder fails fast on truncated frames — no hangs, no garbage rows") {
    val valid: Seq[Array[Byte]] = Seq(
      encodeBegin(Begin(9L, 1L, 2L)),
      encodeCommit(Commit(0, 9L, 10L, 1L)),
      encodeRelation(rel),
      encodeInsert(Insert(rel.id, TupleData(Seq(
        Element('t'.toByte, Some("1".getBytes("UTF-8"))),
        Element('n'.toByte, None))))))
    valid.foreach { f =>
      // every strict prefix must throw (underflow/parse), never return
      (1 until f.length).foreach { n =>
        intercept[Exception](decode(f.take(n)))
      }
      // and the full frame still decodes
      decode(f)
    }
  }
}
