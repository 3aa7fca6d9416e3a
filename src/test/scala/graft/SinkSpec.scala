package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.model._
import graft.sinks._
import graft.sources.ImportSource
import graft.streaming.CdcPipeline

class SinkSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._
  val sf = "/root/testdata/sf0.001"

  def tmp(): String = Files.createTempDirectory("graft-sink").toString

  val oneSchema = TableSchema(1, "public", "one", Seq(
    ColumnSpec("id", PgTypes.Int8, key = true),
    ColumnSpec("msg", PgTypes.Text)))

  /** Envelope batch builder: (ts, lsn, seq, op, id, msg). */
  def envelopes(rows: (String, Option[Long], Option[Long], String, Long, String)*) = {
    val payload = StructType(Seq(
      StructField("id", LongType), StructField("msg", StringType)))
    val data = rows.map { case (ts, lsn, seq, op, id, msg) =>
      val img = new org.apache.spark.sql.catalyst.expressions.GenericRow(
        Array[Any](id, msg))
      org.apache.spark.sql.Row(
        java.sql.Timestamp.valueOf(ts), lsn.orNull, seq.orNull, op,
        if (op == "INSERT" || op == "IMPORT") null else img,
        if (op == "DELETE") null else img)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(data.toSeq),
      Envelope.schemaFor(payload))
  }

  test("InsertResult merge is associative count-sum / lsn-max") {
    val a = InsertResult(2, Some(10L)); val b = InsertResult(3, None)
    val c = InsertResult(1, Some(99L))
    assert(a.merge(b).merge(c) == InsertResult(6, Some(99L)))
    assert(a.merge(b.merge(c)) == InsertResult(6, Some(99L)))
  }

  test("SchemaHandler: update once, noop on repeat, update on evolution") {
    var applied = 0
    val h = new SchemaHandler(_ => applied += 1)
    assert(h.handle(oneSchema) == SchemaOutcome.Update)
    assert(h.handle(oneSchema) == SchemaOutcome.Noop)
    val evolved = oneSchema.copy(columns =
      oneSchema.columns :+ ColumnSpec("another", PgTypes.Text))
    assert(h.handle(evolved) == SchemaOutcome.Update)
    assert(applied == 2)
  }

  test("SchemaHandler: failed DDL reported, retried next time") {
    var fail = true
    val h = new SchemaHandler(_ => if (fail) sys.error("boom"))
    assert(h.handle(oneSchema).isInstanceOf[SchemaOutcome.Failed])
    fail = false
    assert(h.handle(oneSchema) == SchemaOutcome.Update)
  }

  test("FileSink writes modification JSON lines and schema log") {
    val root = tmp()
    val sink = new FileSink(root)
    assert(sink.handleSchema(oneSchema) == SchemaOutcome.Update)
    val batch = envelopes(
      ("2024-01-01 00:00:00", Some(10L), Some(1L), "INSERT", 1L, "meow"),
      ("2024-01-01 00:00:01", Some(11L), Some(1L), "UPDATE", 1L, "woof"))
    val r = sink.insert(oneSchema, batch)
    assert(r == InsertResult(2, Some(11L)))
    val written = spark.read.json(s"$root/modifications/public.one")
    assert(written.count() == 2)
    assert(written.columns.toSet.contains("operation"))
    val schemaLines = Files.readAllLines(
      java.nio.file.Paths.get(root, "schemas.jsonl"))
    assert(schemaLines.size == 1 && schemaLines.get(0).contains("\"one\""))
    // an unchanged-TOAST cell stays marked, not a bare NULL
    val payload = StructType(Seq(
      StructField("id", LongType), StructField("msg", StringType)))
    val toasted = spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(
        java.sql.Timestamp.valueOf("2024-01-01 00:00:02"), 12L, 1L, "UPDATE",
        null, org.apache.spark.sql.Row(1L, null), Seq("msg"))),
      Envelope.schemaFor(payload, withToastMarker = true))
    assert(sink.insert(oneSchema, toasted) == InsertResult(1, Some(12L)))
    val marked = spark.read.json(s"$root/modifications/public.one")
      .where($"lsn" === 12L).select($"unchanged_toast").first()
    assert(marked.getSeq[String](0) == Seq("msg"))
    // commit timestamps keep their microseconds: two commits 1 µs
    // apart read back as distinct instants
    sink.insert(oneSchema, envelopes(
      ("2024-01-01 00:00:03.000001", Some(13L), Some(1L), "UPDATE", 1L, "a"),
      ("2024-01-01 00:00:03.000002", Some(14L), Some(1L), "UPDATE", 1L, "b")))
    val close = spark.read.json(s"$root/modifications/public.one")
      .where($"lsn" >= 13L).orderBy($"lsn")
    val commits = Seq("2024-01-01 00:00:03.000001", "2024-01-01 00:00:03.000002")
      .map(java.sql.Timestamp.valueOf(_).toInstant)
    // ISO-8601 UTC with six fractional digits, like Instant.toString
    // prints a whole-microsecond instant
    assert(close.select($"timestamp").as[String].collect().toSeq ==
      commits.map(_.toString))
    val readBack = close.select(to_timestamp($"timestamp")).collect()
      .map(_.getTimestamp(0).toInstant).toSeq
    assert(readBack == commits && readBack.distinct.size == 2)
  }

  test("WarehouseSink: append-only raw + latest view; replay is harmless (at-least-once)") {
    val root = tmp()
    val sink = new WarehouseSink(spark, root)
    val wm = new CdcPipeline.AckWatermark
    val imports = envelopes(
      ("2024-01-01 00:00:00", None, None, "IMPORT", 1L, "meow"),
      ("2024-01-01 00:00:00", None, None, "IMPORT", 2L, "woof"))
    val stream = envelopes(
      ("2024-01-02 00:00:00", Some(10L), Some(1L), "UPDATE", 1L, "purr"),
      ("2024-01-02 00:00:01", Some(11L), Some(1L), "DELETE", 2L, "woof"),
      ("2024-01-03 00:00:00", Some(12L), Some(1L), "INSERT", 3L, "hiss"))
    CdcPipeline.consumeBatch(imports, oneSchema, sink, wm)
    val r = CdcPipeline.consumeBatch(stream, oneSchema, sink, wm)
    assert(r == InsertResult(3, Some(12L)))
    assert(wm.position.contains(12L))
    // replay the stream batch — duplicates in raw, view unaffected
    CdcPipeline.consumeBatch(stream, oneSchema, sink, wm)
    assert(sink.raw(oneSchema).count() == 8)
    val latest = sink.latestView(oneSchema)
      .select("id", "msg").as[(Long, String)].collect().toMap
    assert(latest == Map(1L -> "purr", 3L -> "hiss"))
    // raw table is partitioned by date for pruning/retention
    val dates = sink.raw(oneSchema).select("_date").distinct().count()
    assert(dates == 3)
  }

  test("AckWatermark panics on regression") {
    val wm = new CdcPipeline.AckWatermark
    wm.confirm(10L); wm.confirm(10L); wm.confirm(12L)
    assertThrows[IllegalArgumentException](wm.confirm(5L))
  }

  test("import jobs: reconcile-once, backoff eligibility, acquire preference, completion") {
    import graft.jobs._
    val store = new ImportJobStore
    val now = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val pub = Seq(TableRef("public", "a"), TableRef("public", "b"))
    assert(store.reconcile("sub", pub, now).size == 2)
    assert(store.reconcile("sub", pub, now).isEmpty) // idempotent
    // fail job 1 -> backoff makes it ineligible now, eligible later
    val j1 = store.acquire(now).get
    store.fail(j1.id, "boom", now)
    val j2 = store.acquire(now).get
    assert(j2.id != j1.id) // skips the just-failed job (backoff + preference)
    store.complete(j2.id, Some("cursor"), done = true, rows = 100, now)
    assert(store.acquire(now).isEmpty) // j1 in backoff, j2 done
    val later = new java.sql.Timestamp(now.getTime + 20000) // > 5*3^1 = 15s
    val retry = store.acquire(later)
    assert(retry.map(_.id).contains(j1.id))
    // expire drops it from future acquisition but reconcile recreates
    store.fail(j1.id, "boom again", later)
    store.expire(TableRef("public", "a"), later)
    assert(store.reconcile("sub", pub, later).size == 1)
  }
}
