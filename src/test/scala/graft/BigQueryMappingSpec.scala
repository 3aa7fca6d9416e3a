package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.model._
import graft.sinks.BigQueryMapping
import graft.sinks.BigQueryMapping.{BqField, BqTableMeta}
import graft.sinks.{BigQuerySink, BigQueryTransport, SchemaOutcome}

/** Offline tests of the BigQuery connector skeleton: the pure
  * schema/DDL/view mapping (golden-pinned, the reference's own test
  * style — pkg/sinks/bigquery/schema_builders_test.go against
  * testdata/view.example.sql, view.dogs.sql) and the transport-
  * isolated sink driven by a recording fake. No cloud SDK anywhere.
  */
class BigQueryMappingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val goldenDir = "src/test/resources/goldens"

  private def checkGolden(name: String, got: String): Unit = {
    val path = Paths.get(s"$goldenDir/$name")
    if (sys.env.contains("GRAFT_REGEN_GOLDENS")) {
      Files.createDirectories(path.getParent)
      Files.writeString(path, got)
    }
    assert(Files.exists(path), s"missing golden $path — run once with " +
      "GRAFT_REGEN_GOLDENS=1 to create it, then review the diff")
    val want = Files.readString(path)
    assert(got == want,
      s"generated SQL drifted from $name:\n--- golden\n$want\n--- got\n$got")
  }

  // the reference's two fixtures (schema_builders_test.go:27-66)
  private val dogs = TableSchema(1, "public", "dogs", Seq(
    ColumnSpec("tag", PgTypes.Int8, key = true),
    ColumnSpec("name", PgTypes.Text)))
  private val example = TableSchema(2, "public", "example", Seq(
    ColumnSpec("id", PgTypes.Int8, key = true),
    ColumnSpec("msg", PgTypes.Text),
    ColumnSpec("another", PgTypes.Text)))
  // composite PK — the case the reference template TODOs
  private val visits = TableSchema(3, "public", "visits", Seq(
    ColumnSpec("dog", PgTypes.Int8, key = true),
    ColumnSpec("day", PgTypes.Text, key = true),
    ColumnSpec("note", PgTypes.Text)))

  test("fieldTypeFor maps every supported OID; arrays repeat") {
    import PgTypes._
    val scalar = Map(
      Bool -> "BOOLEAN", Name -> "STRING", Int8 -> "INTEGER",
      Int2 -> "INTEGER", Int4 -> "INTEGER", Text -> "STRING",
      Oid -> "INTEGER", Xid -> "INTEGER", Cid -> "INTEGER",
      Json -> "STRING", Float4 -> "FLOAT", Float8 -> "FLOAT",
      Varchar -> "STRING", Date -> "TIMESTAMP", Time -> "TIMESTAMP",
      Timestamp -> "TIMESTAMP", Timestamptz -> "TIMESTAMP",
      Numeric -> "FLOAT", Jsonb -> "STRING")
    scalar.foreach { case (oid, want) =>
      assert(BigQueryMapping.fieldTypeFor(oid) == (want, false), s"oid $oid")
    }
    val arrays = Map(
      BoolArr -> "BOOLEAN", Int2Arr -> "INTEGER", Int4Arr -> "INTEGER",
      TextArr -> "STRING", VarcharArr -> "STRING", Int8Arr -> "INTEGER",
      Float4Arr -> "FLOAT", Float8Arr -> "FLOAT",
      TimestampArr -> "TIMESTAMP", DateArr -> "TIMESTAMP",
      TimestamptzArr -> "TIMESTAMP", NumericArr -> "FLOAT")
    arrays.foreach { case (oid, want) =>
      assert(BigQueryMapping.fieldTypeFor(oid) == (want, true), s"oid $oid")
    }
    // the reference's []uint8 dispatch quirk: bytea → REPEATED INTEGER
    // (decoder.go:41-44)
    assert(BigQueryMapping.fieldTypeFor(Bytea) == ("INTEGER", true))
    // 20 scalars + 12 arrays = the full 32-OID registry
    assert(scalar.size + arrays.size + 1 == PgTypes.supported.size)
    // unknown types fail the build, never a fallback
    intercept[PgTypes.UnregisteredTypeException] {
      BigQueryMapping.fieldTypeFor(999999)
    }
    intercept[IllegalArgumentException] {
      BigQueryMapping.fieldTypeFor(ArrayType(ArrayType(LongType)))
    }
  }

  test("buildRaw clusters by primary key (reference test's assertion)") {
    val md = BigQueryMapping.buildRaw("dogs_raw", dogs)
    assert(md.clustering == Seq("tag"))
    assert(md.timePartitionField.contains("timestamp"))
    assert(md.labels == Map("origin" -> "graft"))
  }

  test("buildRaw: envelope shape, name-sorted payload, no-PK error") {
    val md = BigQueryMapping.buildRaw("example_raw", example)
    assert(md.schema.map(_.name) ==
      Seq("timestamp", "lsn", "operation", "payload"))
    assert(md.schema.filter(_.required).map(_.name) ==
      Seq("timestamp", "operation"))
    val payload = md.schema.find(_.name == "payload").get
    assert(payload.fieldType == "RECORD")
    assert(payload.fields.map(_.name) == Seq("another", "id", "msg"))
    val keyless = TableSchema(9, "public", "nokey",
      Seq(ColumnSpec("v", PgTypes.Text)))
    val e = intercept[IllegalArgumentException] {
      BigQueryMapping.buildRaw("nokey_raw", keyless)
    }
    assert(e.getMessage.contains("no detected primary key"))
    intercept[IllegalArgumentException] {
      BigQueryMapping.buildView("nokey", "ds.nokey_raw", keyless)
    }
  }

  test("view SQL matches goldens; project:dataset form normalized") {
    checkGolden("bq.view.example.sql", BigQueryMapping
      .buildView("example", "project.dataset.example_raw", example)
      .viewQuery.get)
    checkGolden("bq.view.dogs.sql", BigQueryMapping
      .buildView("dogs", "project.dataset.dogs_raw", dogs).viewQuery.get)
    checkGolden("bq.view.visits.sql", BigQueryMapping
      .buildView("visits", "project.dataset.visits_raw", visits)
      .viewQuery.get)
    // BigQuery prints `project:dataset.table`; the builder normalizes
    // the colon exactly once (schema_builders.go:127)
    val v = BigQueryMapping
      .buildView("dogs", "project:dataset.dogs_raw", dogs).viewQuery.get
    assert(v.contains("`project.dataset.dogs_raw`"))
  }

  test("raw-table DDL matches golden") {
    checkGolden("bq.ddl.example.sql", BigQueryMapping.ddl("pgsink",
      BigQueryMapping.buildRaw("example_raw", example)))
  }

  // ---- the transport-isolated sink against a recording fake ----

  test("sink: fingerprint-gated DDL, distributed insert, truncate") {
    RecordingTransport.clear()
    val sink = new BigQuerySink("ds", new RecordingTransport)

    assert(sink.handleSchema(example) == SchemaOutcome.Update)
    assert(sink.handleSchema(example) == SchemaOutcome.Noop)
    assert(RecordingTransport.tables.get() == List("example_raw"))
    assert(RecordingTransport.views.get() == List("example"))
    val ddl = RecordingTransport.ddls.get().head
    assert(ddl.contains("CREATE TABLE IF NOT EXISTS `ds.example_raw`"))

    // schema evolution: new column → new fingerprint → DDL re-issued
    val evolved = example.copy(columns =
      example.columns :+ ColumnSpec("extra", PgTypes.Int4))
    assert(sink.handleSchema(evolved) == SchemaOutcome.Update)
    assert(RecordingTransport.tables.get().size == 2)

    val payload = StructType(Seq(
      StructField("id", LongType), StructField("msg", StringType),
      StructField("another", StringType)))
    def img(id: Long, msg: String) =
      new org.apache.spark.sql.catalyst.expressions.GenericRow(
        Array[Any](id, msg, "x"))
    val rows = Seq(
      Row(java.sql.Timestamp.valueOf("2024-06-01 00:00:00"), 10L, 1L,
        "INSERT", null, img(1L, "one")),
      Row(java.sql.Timestamp.valueOf("2024-06-01 00:00:01"), 12L, 1L,
        "DELETE", img(2L, "two"), null))
    val batch = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), Envelope.schemaFor(payload))
    val result = sink.insert(example, batch)
    assert(result.count == 2 && result.lsn.contains(12L))
    val inserted = RecordingTransport.rows.get()
    assert(inserted.size == 2)
    assert(inserted.forall(_._1 == "example_raw"))
    val byOp = inserted.map(_._2).sortBy(identity)
    // the DELETE row carries its before-image as payload
    // (reference: pkg/sinks/bigquery/table.go:41)
    assert(byOp.exists(j =>
      j.contains(""""operation":"DELETE"""") && j.contains(""""id":2""")))
    assert(byOp.exists(j =>
      j.contains(""""operation":"INSERT"""") && j.contains(""""msg":"one"""")))
    // to_json keeps the commit timestamp's microseconds
    assert(byOp.forall(_.matches(
      """.*"timestamp":"\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}\.\d{6}Z".*""")), byOp)

    sink.truncate(example, java.sql.Timestamp.valueOf("2024-06-01 00:00:02"),
      Some(13L), Some(1L))
    val last = RecordingTransport.rows.get().last._2
    assert(last.contains(""""operation":"TRUNCATE""""))
    // marker timestamp must be ISO-8601 UTC (the shape insert()'s
    // to_json emits under the UTC session timezone), and the full
    // (lsn, sequence) position must ride along
    assert(last.matches(
      """.*"timestamp":"\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}\.\d{6}Z".*"""),
      s"marker timestamp not ISO-8601 UTC: $last")
    assert(last.contains(""""lsn":13""") && last.contains(""""sequence":1"""))
  }
}

/** Recording transport: static state so executor-side partitions in
  * local mode and the driver-side assertions see the same buffers. */
final class RecordingTransport extends BigQueryTransport {
  def ensureTable(meta: BqTableMeta, ddl: String): Unit = {
    RecordingTransport.tables.get().synchronized {
      RecordingTransport.tables.set(RecordingTransport.tables.get() :+ meta.name)
      RecordingTransport.ddls.set(RecordingTransport.ddls.get() :+ ddl)
    }
  }
  def ensureView(meta: BqTableMeta): Unit =
    RecordingTransport.views.set(RecordingTransport.views.get() :+ meta.name)
  def insertRows(table: String, rows: Iterator[String]): Unit = {
    val batch = rows.map(table -> _).toList
    RecordingTransport.rowLock.synchronized {
      RecordingTransport.rows.set(RecordingTransport.rows.get() ++ batch)
    }
  }
}

object RecordingTransport {
  val rowLock = new Object
  val tables = new java.util.concurrent.atomic.AtomicReference[List[String]](Nil)
  val views = new java.util.concurrent.atomic.AtomicReference[List[String]](Nil)
  val ddls = new java.util.concurrent.atomic.AtomicReference[List[String]](Nil)
  val rows =
    new java.util.concurrent.atomic.AtomicReference[List[(String, String)]](Nil)
  def clear(): Unit = { tables.set(Nil); views.set(Nil); ddls.set(Nil); rows.set(Nil) }
}
