package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import graft.model.TableSchema
import graft.sinks.{InsertResult, SchemaOutcome, Sink}

/** Benchmark-owned `Sink` wrapper for traced runs: times every insert
  * into the wrapped sink and records it as a span. Each call goes
  * straight to the same method of the wrapped sink. */
final class TimingSink(inner: Sink, tracer: Tracer) extends Sink {
  private val calls = new ConcurrentLinkedQueue[(Long, Long)]()

  /** (start, end) of every insert, run-relative nanoseconds. */
  def inserts: Seq[(Long, Long)] = calls.asScala.toSeq

  private def timed[T](table: TableSchema)(body: => T): T = {
    val s = tracer.now
    try body
    finally {
      val e = tracer.now
      calls.add((s, e))
      tracer.record(s"insert:${table.name}", "sinks", s, e)
    }
  }

  override def handleSchema(schema: TableSchema): SchemaOutcome = inner.handleSchema(schema)
  override def insert(table: TableSchema, batch: DataFrame): InsertResult =
    timed(table)(inner.insert(table, batch))
  override def insertCounted(table: TableSchema, batch: DataFrame,
      known: InsertResult): InsertResult =
    timed(table)(inner.insertCounted(table, batch, known))
  override def truncate(table: TableSchema, at: java.sql.Timestamp,
      lsn: Option[Long], sequence: Option[Long]): Unit =
    inner.truncate(table, at, lsn, sequence)
}
