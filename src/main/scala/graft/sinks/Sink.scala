package graft.sinks

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import graft.model.{Envelope, TableSchema}

/** Result of flushing one batch into a sink: row count + highest LSN
  * — the ack watermark the source confirms
  * (reference: pkg/sinks/generic/inserter.go:42-66,
  * insert_result.go:19-96). Spark's synchronous `foreachBatch`
  * replaces the reference's promise tree: the fold is the implicit
  * barrier at batch end. A sink computes it inside its own write job
  * with [[InsertResult.observedWrite]], or takes it from the caller
  * through [[Sink.insertCounted]].
  */
final case class InsertResult(count: Long, lsn: Option[Long]) {
  /** Fold two results: counts add, LSNs max — associative, so any
    * fold tree yields the same watermark
    * (reference: pkg/sinks/generic/insert_result.go:23-44). */
  def merge(other: InsertResult): InsertResult =
    InsertResult(count + other.count,
      (lsn ++ other.lsn).reduceOption(_ max _))
}

object InsertResult {
  val empty: InsertResult = InsertResult(0, None)

  /** Run `write` over `batch` and return the fold, observed inside
    * the write's own job: no cache, no pre-pass. The caller must
    * write the observed frame from a result stage (no exchange above
    * it), where Spark counts each partition's accumulator update
    * once, so a retried task cannot count its rows twice; a node in a
    * shuffle map stage could be re-run and counted again. */
  def observedWrite(batch: DataFrame)(write: DataFrame => Unit): InsertResult = {
    val fold = Observation()
    write(batch.observe(fold, count(lit(1)).as("count"), max(col(Envelope.LsnCol)).as("lsn")))
    val row = fold.get
    InsertResult(row("count").asInstanceOf[Long], Option(row("lsn")).map(_.asInstanceOf[Long]))
  }
}

/** Outcome of handling a Schema entry
  * (reference: pkg/sinks/generic/schema_handler.go:16-28). */
sealed trait SchemaOutcome
object SchemaOutcome {
  case object Noop extends SchemaOutcome // fingerprint unchanged
  case object Update extends SchemaOutcome // sink DDL applied/evolved
  final case class Failed(error: Throwable) extends SchemaOutcome
}

/** A changelog sink: receives envelope batches routed per table and
  * schema events, returns ack watermarks
  * (reference: pkg/sinks/generic/sink.go:24-26, inserter.go:11-16).
  */
trait Sink {
  /** Idempotent DDL for a (possibly evolved) table schema. */
  def handleSchema(schema: TableSchema): SchemaOutcome

  /** Insert one envelope batch for one table; returns (count, max LSN). */
  def insert(table: TableSchema, batch: DataFrame): InsertResult

  /** Insert a batch whose fold result the caller already knows.
    * The ordered driver decode path holds every row of the flush
    * epoch in memory to build `batch`, so re-deriving (count, max
    * LSN) there is redundant work. Sinks that only need the fold for
    * their return value can override to trust the caller's; the
    * default ignores the hint and calls [[insert]], which derives the
    * fold itself. The streaming pipeline passes a driver-held batch (a
    * `LocalRelation` under `coalesce(1)`), which a sink may write
    * without a Spark job, as the warehouse sink does. */
  def insertCounted(table: TableSchema, batch: DataFrame,
      known: InsertResult): InsertResult =
    insert(table, batch)

  /** Record a TRUNCATE at a changelog position: latest-state readers
    * must drop rows at or before (timestamp, lsn, sequence); history
    * stays append-only. Positions use the changelog ordering
    * (timestamp, then lsn, then in-transaction sequence). */
  def truncate(table: TableSchema, at: java.sql.Timestamp,
      lsn: Option[Long], sequence: Option[Long]): Unit
}

/** JSON spellings for the lines sinks write by hand (truncate markers,
  * schema logs), so they read like the lines Spark's JSON writer emits
  * for data rows. */
private[sinks] object JsonText {
  /** ISO-8601 with microseconds, the changelog's timestamp precision:
    * Spark's JSON default (`…ss.SSSXXX`) would tie two commits within
    * one millisecond. Passed as `timestampFormat` to the sinks' Spark
    * JSON writers too. */
  val TimestampFormat = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"

  private val IsoUtc = java.time.format.DateTimeFormatter
    .ofPattern(TimestampFormat)
    .withZone(java.time.ZoneOffset.UTC)

  /** ISO-8601 UTC, the shape the sinks' Spark JSON writers give a
    * timestamp under the engine's UTC session zone.
    * `Timestamp.toString` would write zone-less JVM wall time instead. */
  def instant(at: java.sql.Timestamp): String = IsoUtc.format(at.toInstant)

  /** A quoted, escaped JSON string: quoted Postgres identifiers may
    * hold `"` or `\`. */
  def string(s: String): String =
    "\"" + new String(com.fasterxml.jackson.core.io.JsonStringEncoder
      .getInstance.quoteAsString(s)) + "\""
}
