package graft.sinks

import org.apache.spark.sql.DataFrame
import graft.model.TableSchema

/** Result of flushing one batch into a sink: row count + highest LSN
  * — the ack watermark the source confirms
  * (reference: pkg/sinks/generic/inserter.go:42-66,
  * insert_result.go:19-96). Spark's synchronous `foreachBatch`
  * replaces the reference's promise tree: the fold is the implicit
  * barrier at batch end.
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

  /** Compute the fold with one distributed aggregate (partial
    * aggregation = the reference's per-inserter partial results). */
  def of(batch: DataFrame): InsertResult = {
    import org.apache.spark.sql.functions._
    val row = batch.agg(count(lit(1)), max(col(graft.model.Envelope.LsnCol))).collect()(0)
    InsertResult(row.getLong(0), if (row.isNullAt(1)) None else Some(row.getLong(1)))
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
    * epoch in memory to build `batch` — re-deriving (count, max LSN)
    * with a distributed aggregate there costs one extra job plus a
    * cache materialization per epoch (measured ~2x the epoch's write
    * cost at 100k-frame epochs). Sinks that only need the fold for
    * their return value can override to trust the caller's; the
    * default ignores the hint and keeps the single-source-of-truth
    * aggregate. The streaming pipeline passes a driver-held batch (a
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
