package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval. `start`/`end` are nanoseconds from the run's
  * origin; `parent` is 0 for a root and -1 for a span recorded on
  * another thread, whose parent is found by interval containment. */
final case class Span(id: Int, name: String, layer: String, start: Long,
    end: Long, parent: Int) {
  def dur: Long = end - start
}

/** In-memory span recorder. Disabled, `span` runs its body and records
  * nothing, so untraced runs pay one branch per call. */
final class Tracer(val enabled: Boolean, val runId: String) {
  val origin: Long = System.nanoTime()
  private val originEpochMs = System.currentTimeMillis()
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)

  def now: Long = System.nanoTime() - origin
  def fromEpochMs(ms: Long): Long = (ms - originEpochMs) * 1000000L

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val s = now
      try body
      finally {
        stack.set(stack.get.tail)
        spans.add(Span(id, name, layer, s, now, parent))
      }
    }

  /** A span measured elsewhere (listener callback, insert thread). */
  def record(name: String, layer: String, start: Long, end: Long): Unit =
    if (enabled) spans.add(Span(ids.incrementAndGet(), name, layer, start, end, -1))

  /** Every span, with containment parents resolved: a floating span
    * hangs under the span of the highest lower rank (ties broken by the
    * shortest interval) that contains its start. Floating spans no
    * span contains fell outside the traced window and are dropped. */
  def resolved: Seq[Span] = {
    val all = spans.asScala.toVector.sortBy(_.id)
    val byId = scala.collection.mutable.Map(all.map(s => s.id -> s): _*)
    def rankOf(s: Span) = Tracer.Rank.getOrElse(s.layer, 3)
    all.filter(_.parent == -1).sortBy(s => (rankOf(s), s.start)).foreach { s =>
      val slack = 2000000L // listener times carry millisecond resolution
      val host = byId.values.filter(h => h.parent != -1 && rankOf(h) < rankOf(s) &&
          h.start - slack <= s.start && s.start <= h.end + slack)
        .toSeq.sortBy(h => (-rankOf(h), h.dur)).headOption
      host match {
        case Some(h) => byId(s.id) = s.copy(parent = h.id)
        case None => byId.remove(s.id)
      }
    }
    byId.values.toVector.sortBy(_.id)
  }
}

object Tracer {
  /** Tree rank per layer: a floating span only nests under a lower rank. */
  val Rank: Map[String, Int] = Map("workload" -> 0, "phase" -> 1,
    "streaming" -> 2, "query" -> 2, "ops" -> 2, "sources" -> 2,
    "SparkEntry" -> 3, "sinks" -> 3, "spark" -> 4)

  /** Nanoseconds of [start, end] covered by the union of `parts`. */
  def covered(start: Long, end: Long, parts: Seq[(Long, Long)]): Long = {
    var total = 0L
    var cursor = start
    parts.map { case (s, e) => (math.max(s, start), math.min(e, end)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > cursor) { total += e - math.max(s, cursor); cursor = e }
      }
    total
  }

  /** Self time per span: its duration minus what its children cover. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      s.id -> (s.dur - covered(s.start, s.end,
        kids.getOrElse(s.id, Nil).map(k => (k.start, k.end))))
    }.toMap
  }
}

/** Spark counters over a window of the run, from task and job events. */
final case class SparkCounters(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    jobWallMs: Long = 0, taskCpuNs: Long = 0, gcMs: Long = 0,
    shuffleRead: Long = 0, shuffleWrite: Long = 0, spill: Long = 0,
    outputBytes: Long = 0) {
  def -(o: SparkCounters): SparkCounters = SparkCounters(jobs - o.jobs,
    stages - o.stages, tasks - o.tasks, jobWallMs - o.jobWallMs,
    taskCpuNs - o.taskCpuNs, gcMs - o.gcMs, shuffleRead - o.shuffleRead,
    shuffleWrite - o.shuffleWrite, spill - o.spill, outputBytes - o.outputBytes)
}

/** Benchmark-owned SparkListener: counts jobs, stages and tasks, sums
  * task metrics, and records every job as a span. Installed only in
  * traced runs. */
final class SparkProbe(sc: org.apache.spark.SparkContext, tracer: Tracer) extends SparkListener {
  @volatile private var c = SparkCounters()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val intervals = new ConcurrentLinkedQueue[(Long, Long)]()

  def counters: SparkCounters = { org.apache.spark.PerfbenchBus.drain(sc); c }
  /** Job intervals (run-relative ns) that started in [from, to]. */
  def jobsIn(from: Long, to: Long): Seq[(Long, Long)] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    intervals.asScala.toSeq.filter { case (s, _) => s >= from - 2000000L && s <= to }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStarts.put(e.jobId, e.time)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val s = Option(jobStarts.remove(e.jobId)).getOrElse(e.time)
    val (rs, re) = (tracer.fromEpochMs(s), tracer.fromEpochMs(e.time))
    intervals.add((rs, re))
    tracer.record("job", "spark", rs, re)
    c = c.copy(jobs = c.jobs + 1, jobWallMs = c.jobWallMs + (e.time - s))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { c = c.copy(stages = c.stages + 1) }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) c = c.copy(tasks = c.tasks + 1,
      taskCpuNs = c.taskCpuNs + m.executorCpuTime,
      gcMs = c.gcMs + m.jvmGCTime,
      shuffleRead = c.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
      shuffleWrite = c.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
      spill = c.spill + m.memoryBytesSpilled + m.diskBytesSpilled,
      outputBytes = c.outputBytes + m.outputMetrics.bytesWritten)
  }
}

/** One micro-batch as its progress event reports it. */
final case class Epoch(startMs: Long, durations: Map[String, Long],
    inputRows: Long, startOffset: Long, endOffset: Long) {
  def dur(k: String): Long = durations.getOrElse(k, 0L)
}

/** Benchmark-owned StreamingQueryListener: keeps every progress event
  * (the whole `durationMs` map) and records each epoch as a span. */
final class ProgressProbe(tracer: Tracer) extends StreamingQueryListener {
  import StreamingQueryListener._
  private val epochs = new ConcurrentLinkedQueue[Epoch]()
  @volatile var committedFrames: Long = 0L

  def all: Seq[Epoch] = epochs.asScala.toSeq.sortBy(_.startMs)

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    if (d.contains("addBatch")) {
      val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
      def pos(json: String) = Option(json).flatMap("\"position\"\\s*:\\s*(\\d+)".r
        .findFirstMatchIn(_)).map(_.group(1).toLong).getOrElse(0L)
      val src = p.sources.head
      val ep = Epoch(startMs, d, p.numInputRows,
        pos(src.startOffset), pos(src.endOffset))
      epochs.add(ep)
      committedFrames = math.max(committedFrames, ep.endOffset)
      val s = tracer.fromEpochMs(startMs)
      tracer.record("epoch", "streaming", s, s + d.getOrElse("triggerExecution", 0L) * 1000000L)
    }
  }
}

/** Peak live heap: the largest heap occupancy a full collection left
  * behind, from the JVM's GC notifications. Young collections are not
  * counted, as their residue includes promoted garbage; `checkpoint`
  * forces a full collection at a phase boundary so every window has
  * readings. */
final class HeapProbe {
  import java.lang.management.ManagementFactory
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import com.sun.management.GarbageCollectionNotificationInfo
  @volatile private var peak = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, hb: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        if (info.getGcAction == "end of major GC") {
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          synchronized { peak = math.max(peak, used) }
        }
      }
  }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }

  def start(): Unit = { peak = 0L; emitters.foreach(_.addNotificationListener(listener, null, null)) }
  def checkpoint(): Unit = {
    System.gc()
    Thread.sleep(50) // notifications are delivered asynchronously
  }
  def stopMb(): Double = {
    checkpoint()
    emitters.foreach(_.removeNotificationListener(listener))
    peak / (1024.0 * 1024.0)
  }
}
