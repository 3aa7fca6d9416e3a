package graft.streaming

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Observability for streaming CDC queries — the Spark-native home
  * for what the reference instruments with Prometheus counters and
  * histograms (reference: pkg/subscription/stream.go:68-76 message
  * counters, pkg/imports/importer.go:57-81 rows/durations).
  * Attach with `spark.streams.addListener(listener)`; progress
  * arrives per micro-batch = per flush epoch. `lastDurationsMs` keeps
  * the last progress's whole phase breakdown (`triggerExecution`,
  * `addBatch`, `latestOffset`, `walCommit`, ...), Structured
  * Streaming's own per-epoch attribution.
  *
  * `rows` and `lastBatchRows` are the progress's `numInputRows`, which
  * Spark takes from the source scan's `numOutputRows` metric. A
  * [[FrameStreamPipeline]] epoch runs no scan job: it reads its frames
  * on the driver and adds their count to that metric, so these are
  * the frames each epoch decoded.
  */
final class CdcQueryListener extends StreamingQueryListener {

  final case class QueryStats(
      batches: Long = 0,
      rows: Long = 0,
      lastBatchRows: Long = 0,
      lastDurationsMs: Map[String, Long] = Map.empty,
      lastRowsPerSecond: Double = 0.0)

  private val stats = new ConcurrentHashMap[String, QueryStats]()

  def statsOf(queryName: String): Option[QueryStats] =
    Option(stats.get(queryName))

  override def onQueryStarted(
      event: StreamingQueryListener.QueryStartedEvent): Unit = ()

  override def onQueryProgress(
      event: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = event.progress
    val name = Option(p.name).getOrElse(p.id.toString)
    val durations = p.durationMs.asScala.map { case (k, v) =>
      k -> v.longValue }.toMap
    stats.compute(name, (_, prev0) => {
      val prev = if (prev0 == null) QueryStats() else prev0
      QueryStats(
        batches = prev.batches + 1,
        rows = prev.rows + p.numInputRows,
        lastBatchRows = p.numInputRows,
        lastDurationsMs = durations,
        lastRowsPerSecond = p.processedRowsPerSecond)
    })
  }

  override def onQueryTerminated(
      event: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}
