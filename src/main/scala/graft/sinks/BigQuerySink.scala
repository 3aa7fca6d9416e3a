package graft.sinks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.{Envelope, Operation, TableSchema}
import BigQueryMapping.BqTableMeta

/** The network seam of the BigQuery connector. Everything above it
  * ([[BigQueryMapping]], [[BigQuerySink]]) is pure/offline; a real
  * deployment implements these four calls with a cloud client, tests
  * implement them with a recorder. Implementations must be
  * serializable: `insertRows` runs on EXECUTORS (one call per
  * partition — the distributed analogue of the reference's buffered
  * per-table inserter, pkg/sinks/bigquery/table.go:28-63).
  */
trait BigQueryTransport extends Serializable {
  /** Idempotently create-or-update the raw table
    * (reference: pkg/sinks/bigquery/schema_handler.go:82-100 —
    * create if absent, blind metadata update otherwise; every emitted
    * schema is backward-compatible so racing updates are benign).
    * `ddl` is the Standard-SQL rendering of `meta` for DDL-based
    * transports; API transports use `meta` directly. */
  def ensureTable(meta: BqTableMeta, ddl: String): Unit

  /** Idempotently create-or-update the latest-row view. */
  def ensureView(meta: BqTableMeta): Unit

  /** Stream one partition of JSON-encoded raw-table rows
    * ({timestamp, lsn, operation, payload}). */
  def insertRows(table: String, rows: Iterator[String]): Unit
}

/** BigQuery changelog sink skeleton: the reference's BigQuery sink
  * (pkg/sinks/bigquery/sink.go:40-79, schema_handler.go:29-79)
  * re-expressed with the schema/DDL layer pure and the client behind
  * [[BigQueryTransport]] — this class compiles and is fully testable
  * with no cloud SDK in the build. [[WarehouseSink]] remains the
  * executable parquet analogue; this sink is the wiring a BigQuery
  * deployment would use.
  *
  * Raw tables are named `<table>_raw` with no namespace prefix,
  * exactly as the reference documents (schema_handler.go:49-57:
  * BigQuery has no schema prefixes; one dataset per installation).
  *
  * Scale shape: schema handling is driver-side control-plane (one
  * DDL per distinct fingerprint); row insertion never collects —
  * each partition streams its rows through the transport from the
  * executor it lives on.
  */
final class BigQuerySink(dataset: String, transport: BigQueryTransport)
    extends Sink {

  private val handler = new SchemaHandler({ schema =>
    val rawName = s"${schema.name}_raw"
    val raw = BigQueryMapping.buildRaw(rawName, schema)
    transport.ensureTable(raw, BigQueryMapping.ddl(dataset, raw))
    transport.ensureView(
      BigQueryMapping.buildView(schema.name, s"$dataset.$rawName", schema))
  })

  override def handleSchema(schema: TableSchema): SchemaOutcome =
    handler.handle(schema)

  override def insert(table: TableSchema, batch: DataFrame): InsertResult = {
    val rawName = s"${table.name}_raw"
    val t = transport
    InsertResult.observedWrite(batch) { observed =>
      val json = observed.select(to_json(struct(
        col(Envelope.TimestampCol), col(Envelope.LsnCol),
        col(Envelope.OperationCol),
        // deletes carry their final content in `before`
        // (reference: pkg/sinks/bigquery/table.go:41)
        Envelope.afterOrBefore(observed).as("payload")),
        Map("timestampFormat" -> JsonText.TimestampFormat)).as("row"))
      json.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
        if (rows.hasNext) t.insertRows(rawName, rows.map(_.getString(0)))
      }
    }
  }

  /** The reference's BigQuery sink predates truncate support; the
    * append-only contract here records a marker row (operation
    * TRUNCATE, null payload) at the changelog position so a view with
    * truncate semantics — or an auditor — can apply it. The marker's
    * timestamp renders ISO-8601 UTC ([[JsonText.instant]]), the shape
    * [[insert]]'s to_json emits, and the full changelog position
    * (lsn, sequence) rides along so the marker sorts against data rows
    * by the same in-band key. */
  override def truncate(table: TableSchema, at: java.sql.Timestamp,
      lsn: Option[Long], sequence: Option[Long]): Unit = {
    transport.insertRows(s"${table.name}_raw", Iterator(
      s"""{"timestamp":"${JsonText.instant(at)}","lsn":${lsn.getOrElse("null")},""" +
        s""""sequence":${sequence.getOrElse("null")},""" +
        s""""operation":"${Operation.Truncate}","payload":null}"""))
  }
}
