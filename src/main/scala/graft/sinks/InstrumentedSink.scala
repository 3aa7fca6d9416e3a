package graft.sinks

import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import org.apache.spark.sql.DataFrame
import graft.model.TableSchema

/** Decorator adding observability to any Sink — the reference wraps
  * every inserter in duration/batch-size histograms
  * (reference: pkg/sinks/generic/instrumented_inserter.go:13-74);
  * here the counters are JVM-local to the driver (where insert
  * orchestration runs) and exposed for a metrics scraper or
  * StreamingQueryListener to read.
  */
final class InstrumentedSink(inner: Sink) extends Sink {
  val insertCount = new LongAdder
  val rowCount = new LongAdder
  val insertNanos = new LongAdder
  val schemaUpdates = new LongAdder
  val schemaNoops = new LongAdder
  val schemaFailures = new LongAdder
  val maxBatchSize = new AtomicLong(0)
  val truncateCount = new LongAdder

  override def handleSchema(schema: TableSchema): SchemaOutcome = {
    val outcome = inner.handleSchema(schema)
    outcome match {
      case SchemaOutcome.Update => schemaUpdates.increment()
      case SchemaOutcome.Noop => schemaNoops.increment()
      case _: SchemaOutcome.Failed => schemaFailures.increment()
    }
    outcome
  }

  override def insert(table: TableSchema, batch: DataFrame): InsertResult =
    timed(inner.insert(table, batch))

  override def insertCounted(table: TableSchema, batch: DataFrame,
      known: InsertResult): InsertResult =
    timed(inner.insertCounted(table, batch, known))

  private def timed(body: => InsertResult): InsertResult = {
    val t0 = System.nanoTime()
    val result = body
    insertNanos.add(System.nanoTime() - t0)
    insertCount.increment()
    rowCount.add(result.count)
    maxBatchSize.getAndUpdate(m => math.max(m, result.count))
    result
  }

  override def truncate(table: TableSchema, at: java.sql.Timestamp,
      lsn: Option[Long], sequence: Option[Long]): Unit = {
    truncateCount.increment()
    inner.truncate(table, at, lsn, sequence)
  }

  def meanInsertSeconds: Double =
    if (insertCount.sum() == 0) 0.0
    else insertNanos.sum() / 1e9 / insertCount.sum()
}
