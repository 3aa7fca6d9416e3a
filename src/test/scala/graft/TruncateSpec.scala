package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

import graft.model.PgTypes
import graft.sinks.WarehouseSink
import graft.sources._
import graft.streaming.{CdcPipeline, FrameStreamPipeline}

/** pgoutput 'T' (truncate) end to end — a message the reference
  * LISTS but errors on (pkg/logical/decoder.go); here it decodes and
  * applies: latest views drop rows at or before the truncate
  * position, and the append-only raw history and time travel keep
  * the pre-truncate state.
  */
class TruncateSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._
  import PgOutput._

  def tmp(): String = Files.createTempDirectory("graft-trunc").toString

  val rel = Relation(1L, "public", "pets", 'd'.toByte, Seq(
    RelationColumn(key = true, "id", PgTypes.Int8, -1),
    RelationColumn(key = false, "name", PgTypes.Text, -1)))
  def cell(v: String) = Element('t'.toByte, Some(v.getBytes("UTF-8")))
  def ins(id: Long, name: String) =
    encodeInsert(Insert(1L, TupleData(Seq(cell(id.toString), cell(name)))))

  val petsTable = graft.model.TableSchema(1L, "public", "pets", Seq(
    graft.model.ColumnSpec("id", PgTypes.Int8, key = true),
    graft.model.ColumnSpec("name", PgTypes.Text)))

  test("wire round-trip: options and relation ids survive encode/decode") {
    val t = Truncate(3, Seq(1L, 77L, 4294967295L)) // cascade|restart, uint32 id
    assert(decode(encodeTruncate(t)) == t)
    // still rejects genuinely unknown types
    assertThrows[UnknownMessageTypeException](decode(Array('Z'.toByte)))
  }

  test("builder emits one position-stamped entry per truncated relation") {
    val rel2 = Relation(2L, "public", "owners", 'd'.toByte, Seq(
      RelationColumn(key = true, "id", PgTypes.Int8, -1)))
    val entries = ChangelogBuilder.build(Iterator(
      Begin(100L, 0L, 1L), rel, rel2,
      Insert(1L, TupleData(Seq(cell("1"), cell("rex")))),
      Truncate(0, Seq(1L, 2L)),
      Commit(0, 100L, 101L, 0L)).map(m => decode(m match {
        case b: Begin => encodeBegin(b)
        case c: Commit => encodeCommit(c)
        case r: Relation => encodeRelation(r)
        case i: Insert => encodeInsert(i)
        case t: Truncate => encodeTruncate(t)
        case other => fail(s"unexpected $other")
      }))).toVector
    val truncs = entries.collect { case t: ChangelogBuilder.TruncateEntry => t }
    assert(truncs.map(_.schema.name) == Seq("pets", "owners"))
    // insert took sequence 1; the two truncate entries take 2 and 3
    assert(truncs.map(_.sequence) == Seq(Some(2L), Some(3L)))
    assert(truncs.forall(_.lsn.contains(100L)))
  }

  test("warehouse: latest view drops truncated rows, history and time travel keep them") {
    val frameDir = tmp(); val ckpt = tmp(); val wh = tmp()
    val sink = new WarehouseSink(spark, wh)
    val wm = new CdcPipeline.AckWatermark
    // txn1 (ts=1000s): two pets. txn2 (ts=2000s): truncate, then one
    // new pet in the SAME transaction after the truncate.
    PgOutputFrameLog.append(frameDir, "seg-000", Seq(
      encodeBegin(Begin(100L, 1000000000L, 1L)), encodeRelation(rel),
      ins(1L, "rex"), ins(2L, "whiskers"),
      encodeCommit(Commit(0, 100L, 101L, 1000000000L)),
      encodeBegin(Begin(200L, 2000000000L, 2L)),
      encodeTruncate(Truncate(0, Seq(1L))),
      ins(3L, "phoenix"),
      encodeCommit(Commit(0, 200L, 201L, 2000000000L))))
    val q = FrameStreamPipeline.start(spark, frameDir, sink, wm, ckpt, "1 seconds")
    try q.processAllAvailable() finally q.stop()
    assert(wm.position.contains(200L))

    // latest state: only the post-truncate insert survives — the
    // same-transaction, pre-truncate rows are gone (sequence order)
    val latest = sink.latestView(petsTable)
      .select("id", "name").as[(Long, String)].collect().toMap
    assert(latest == Map(3L -> "phoenix"))
    // history is untouched: all three inserts remain in raw
    assert(sink.raw(petsTable).count() == 3)
    // time travel BEFORE the truncate still sees the original pets
    // (txn1 commits at pg-epoch+1000s = 2000-01-01 00:16:40 UTC,
    // txn2 — the truncate — at +2000s = 00:33:20)
    val before = sink.asOf(petsTable,
      java.sql.Timestamp.valueOf("2000-01-01 00:20:00"))
    assert(before.select("id").as[Long].collect().toSet == Set(1L, 2L))
  }

  test("warehouse: truncate composes with compaction on either side") {
    val wh = tmp()
    val sink = new WarehouseSink(spark, wh)
    def envBatch(ts: String, lsn: Long, seq: Long, id: Long, name: String) = {
      val payload = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("name",
          org.apache.spark.sql.types.StringType)))
      spark.createDataFrame(
        java.util.List.of(org.apache.spark.sql.Row(
          java.sql.Timestamp.valueOf(ts), Long.box(lsn), Long.box(seq),
          graft.model.Operation.Insert, null,
          org.apache.spark.sql.Row(Long.box(id), name))),
        graft.model.Envelope.schemaFor(payload))
    }
    sink.insert(petsTable, envBatch("2024-01-01 00:00:00", 10L, 1L, 1L, "a"))
    sink.insert(petsTable, envBatch("2024-01-02 00:00:00", 20L, 1L, 2L, "b"))
    // truncate BEFORE compaction: baseline must fold it in
    sink.truncate(petsTable,
      java.sql.Timestamp.valueOf("2024-01-03 00:00:00"), Some(30L), Some(1L))
    sink.insert(petsTable, envBatch("2024-01-04 00:00:00", 40L, 1L, 3L, "c"))
    sink.compact(petsTable)
    assert(sink.latestView(petsTable)
      .select("id").as[Long].collect().toSet == Set(3L))
    // truncate AFTER compaction: must erase the baseline too
    sink.truncate(petsTable,
      java.sql.Timestamp.valueOf("2024-01-05 00:00:00"), Some(50L), Some(1L))
    sink.insert(petsTable, envBatch("2024-01-06 00:00:00", 60L, 1L, 4L, "d"))
    assert(sink.latestView(petsTable)
      .select("id").as[Long].collect().toSet == Set(4L))
    // and the next baseline, folded from this one, keeps both applied
    sink.compact(petsTable)
    assert(sink.latestView(petsTable)
      .select("id").as[Long].collect().toSet == Set(4L))
  }

  test("file sink appends position-stamped truncate markers") {
    val root = tmp()
    val sink = new graft.sinks.FileSink(root)
    sink.truncate(petsTable,
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), Some(42L), Some(7L))
    val lines = Files.readAllLines(
      java.nio.file.Paths.get(root, "truncates.jsonl"))
    assert(lines.size() == 1)
    assert(lines.get(0).contains(""""name":"pets""""))
    assert(lines.get(0).contains(""""lsn":42"""))
    assert(lines.get(0).contains(""""sequence":7"""))
    // the marker's timestamp reads back as the same instant, to the
    // microsecond, in the ISO-8601 UTC shape of the modification
    // lines; a quoted identifier holding `"` still yields valid JSON
    val at = java.sql.Timestamp.from(java.time.Instant.parse("2024-05-06T07:08:09.123456Z"))
    sink.truncate(petsTable.copy(namespace = "my\"ns", name = "pe\"ts"),
      at, Some(43L), Some(1L))
    val read = spark.read.json(s"$root/truncates.jsonl")
    assert(!read.columns.contains("_corrupt_record"), read.columns.toSeq)
    val marker = read.where($"lsn" === 43L).collect()
    assert(marker.length == 1)
    assert(marker(0).getAs[String]("namespace") == "my\"ns" &&
      marker(0).getAs[String]("name") == "pe\"ts")
    assert(marker(0).getAs[String]("timestamp") == "2024-05-06T07:08:09.123456Z")
    assert(read.where($"lsn" === 43L)
      .select(org.apache.spark.sql.functions.to_timestamp($"timestamp"))
      .first().getTimestamp(0).toInstant == at.toInstant)
  }
}
