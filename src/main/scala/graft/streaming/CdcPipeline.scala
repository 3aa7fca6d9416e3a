package graft.streaming

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.DataFrame
import graft.model.TableSchema
import graft.sinks.{InsertResult, Sink}

/** The consume contract shared by every CDC path: the monotonic ack
  * watermark, and the batch consume that imports and replays use.
  *
  * The live stream runs through [[FrameStreamPipeline]]: one routed
  * streaming query decodes frames, inserts each table's rows through
  * the [[Sink]], and confirms the LSN of the last Commit it decoded
  * here. That maps the reference's sink.Consume wiring (reference:
  * pkg/sinks/generic/sink.go:81-122 consume loop + flush ticker;
  * cmd/pgsink/cmd/app.go:340-346 ack hookup) onto Structured
  * Streaming: the trigger interval IS the flush epoch, foreachBatch
  * completion IS the flush barrier, and the checkpoint plus the
  * monotonic confirm callback IS `stream.Confirm(lsn)`.
  */
object CdcPipeline {

  /** Monotonic ack watermark: confirming a position below the current
    * one is a bug in the caller — the reference panics on regression
    * (pkg/subscription/stream.go:47-55). */
  final class AckWatermark {
    private val current = new AtomicLong(-1L)
    def confirm(lsn: Long): Unit = {
      val prev = current.getAndUpdate(c => math.max(c, lsn))
      require(lsn >= prev,
        s"ack watermark regression: confirm($lsn) after $prev")
    }
    def position: Option[Long] = Option(current.get()).filter(_ >= 0)
  }

  /** Batch-mode consume for imports and replays: schema DDL, one
    * insert, then confirm. Returns the insert's (count, max LSN) fold. */
  def consumeBatch(
      envelopes: DataFrame,
      table: TableSchema,
      sink: Sink,
      watermark: AckWatermark): InsertResult = {
    sink.handleSchema(table)
    val result = sink.insert(table, envelopes)
    result.lsn.foreach(watermark.confirm)
    result
  }
}
