package graft.sources

import java.util
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.unsafe.types.UTF8String

/** DataSource v2 streaming source for pgoutput frame logs — the
  * offline stand-in for a replication-socket `MicroBatchStream`
  * (reference: pkg/subscription/stream.go:78-232 receives CopyData
  * frames from a slot; here frames come from an append-only log
  * directory, which is what the offline environment can provide).
  *
  * Log format: files named in lexicographic order, each a sequence of
  * `[int32 big-endian length][frame bytes]` records — one record per
  * pgoutput wire message. Use `PgOutputFrameLog.append` to produce.
  *
  * Semantics mirrored from the reference:
  * - offsets are *frame positions*; a committed offset is never
  *   redelivered after restart (confirmed_flush_lsn semantics,
  *   subscription_test.go:205-262) — Spark's checkpoint holds the
  *   position, `commit` is where a socket source would send
  *   StandbyStatusUpdate.
  * - a single input partition per batch: the frame stream is ordered
  *   and the downstream ChangelogBuilder relies on Relation messages
  *   preceding their rows. Decode stays on the driver; the parallel
  *   step after it is one insert per table per flush epoch.
  *
  * Usage:
  * {{{
  * spark.readStream.format("graft.sources.PgOutputFrameSource")
  *   .option("path", dir).load()          // (position LONG, frame BINARY)
  * }}}
  */
class PgOutputFrameSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PgOutputFrameSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new PgOutputFrameTable(properties.get("path"),
      Option(properties.get("maxFramesPerTrigger")).map(_.toLong)
        .orElse(Some(PgOutputFrameSource.DefaultMaxFramesPerTrigger))
        .filter(_ > 0))
}

object PgOutputFrameSource {
  /** Default admission-control bound. Batches are decoded on the
    * driver (ordering contract), so an unbounded first batch after a
    * restart would pull the whole backlog into driver memory; the
    * default mirrors the reference's 5000-entry channel buffer
    * (pkg/imports/importer.go:34). Pass maxFramesPerTrigger<=0 for
    * explicitly unbounded reads. */
  val DefaultMaxFramesPerTrigger = 5000L

  val schema: StructType = StructType(Seq(
    StructField("position", LongType, nullable = false),
    StructField("frame", BinaryType, nullable = false)))
}

final class PgOutputFrameTable(path: String, maxFramesPerTrigger: Option[Long])
    extends Table with SupportsRead {
  require(path != null, "option 'path' is required")
  override def name(): String = s"pgoutput-frames(`$path`)"
  override def schema(): StructType = PgOutputFrameSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = PgOutputFrameSource.schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new PgOutputFrameStream(path, maxFramesPerTrigger)
      }
    }
}

/** Offset = count of frames ever appended (positions 0..n-1). */
final case class FramePosition(position: Long) extends Offset {
  override def json(): String = s"""{"position":$position}"""
}

/** @param maxFramesPerTrigger backpressure bound per micro-batch —
  *   the analogue of the reference's bounded channel between source
  *   and sink (BufferSize=5000, pkg/imports/importer.go:34) and of
  *   `maxOffsetsPerTrigger` in Spark's built-in sources. */
final class PgOutputFrameStream(path: String, maxFramesPerTrigger: Option[Long] = None)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {
  // a FRESH checkpoint starts at the retention floor: positions below
  // it were acked by a previous consumer and their segments deleted
  override def initialOffset(): Offset =
    FramePosition(PgOutputFrameLog.retainInfo(path)._1)

  /** Catch-up bound captured at query start under
    * Trigger.AvailableNow: the backlog drains to exactly this frame
    * count — in maxFramesPerTrigger-sized admission steps, so the
    * bounded-batch backpressure still applies — and then the query
    * stops on its own. Frames appended after the capture wait for the
    * next run, which resumes from the checkpoint. This is the
    * reference's "import then exit" operational mode (a worker that
    * drains the queue and terminates) expressed through Spark's
    * trigger contract.
    */
  @volatile private var availableNowBound: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowBound = Some(PgOutputFrameLog.frameCount(path))

  private def visibleFrameCount: Long = {
    val total = PgOutputFrameLog.frameCount(path)
    availableNowBound.fold(total)(b => math.min(total, b))
  }

  override def latestOffset(): Offset =
    FramePosition(visibleFrameCount)

  override def getDefaultReadLimit: ReadLimit =
    maxFramesPerTrigger.map(m => ReadLimit.maxRows(m))
      .getOrElse(ReadLimit.allAvailable())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[FramePosition].position
    val total = visibleFrameCount
    FramePosition(maxFramesPerTrigger.fold(total)(m => math.min(total, s + m)))
  }

  override def deserializeOffset(json: String): Offset = {
    val m = "\"position\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(json)
      .getOrElse(throw new IllegalArgumentException(s"bad offset: $json"))
    FramePosition(m.group(1).toLong)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[FramePosition].position
    val e = end.asInstanceOf[FramePosition].position
    if (e <= s) Array.empty
    // ONE partition: frame order is the correctness contract
    else Array(FrameRange(path, s, e))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
        val range = partition.asInstanceOf[FrameRange]
        new FrameReader(range)
      }
    }

  /** Where a socket-backed source would ack the upstream slot
    * (StandbyStatusUpdate); the file log needs nothing — the
    * checkpoint already persists the position. */
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

final case class FrameRange(path: String, start: Long, end: Long)
  extends InputPartition

final class FrameReader(range: FrameRange)
    extends PartitionReader[InternalRow] {
  private val frames = PgOutputFrameLog.readRange(range.path, range.start, range.end)
  private var idx = -1
  override def next(): Boolean = { idx += 1; idx < frames.length }
  override def get(): InternalRow =
    InternalRow(range.start + idx, frames(idx))
  override def close(): Unit = ()
}

/** The frame-log codec: length-prefixed frames in ordered files. */
object PgOutputFrameLog {
  import java.io.{DataInputStream, DataOutputStream, FileOutputStream, FileInputStream, File}

  /** Append frames as a new log segment file.
    *
    * Position-stability contract: checkpointed offsets are frame
    * counts summed across segments in name order, so history must
    * never renumber. `append` enforces both ways that could happen:
    *  - the new segment name must sort strictly AFTER every existing
    *    one (an earlier or equal name would renumber — or silently
    *    overwrite — frames a reader already counted);
    *  - a torn tail left in the previous segment by a writer crash
    *    is TRUNCATED here, during recovery, before the new segment
    *    exists. Readers skip torn tails (never durably written); if
    *    the same bytes later became a complete frame, every position
    *    after them would shift by one and checkpointed offsets would
    *    deliver wrong frames. Truncation makes that impossible.
    */
  def append(dir: String, segment: String, frames: Seq[Array[Byte]]): Unit = {
    new File(dir).mkdirs()
    val (_, lastDropped) = retainInfo(dir)
    require(segment > lastDropped,
      s"segment '$segment' must sort after retained-away '$lastDropped': " +
        "an earlier or equal name would renumber committed frame positions")
    retainedSegments(dir).lastOption.foreach { last =>
      require(segment > last.getName,
        s"segment '$segment' must sort after '${last.getName}': an earlier " +
          "or equal name would renumber committed frame positions")
      truncateTornTail(last)
    }
    val out = new DataOutputStream(new FileOutputStream(new File(dir, segment)))
    try frames.foreach { f => out.writeInt(f.length); out.write(f) }
    finally out.close()
  }

  // ---- retention: the WAL-drop analogue ----------------------------
  //
  // The reference's replication slot advances restart_lsn as the sink
  // acks, letting Postgres recycle WAL; without the same move this
  // log grows without bound. `retain(dir, upTo)` deletes whole
  // segments whose frames all sit below the acked position while
  // keeping POSITIONS STABLE: a `_retained` sidecar records how many
  // frames logically precede the first surviving segment (and the
  // name of the last dropped one, so `append`'s ordering check still
  // holds against deleted history). Crash-safe by write order — the
  // sidecar commits first (atomic same-dir rename), file deletion
  // follows; a crash between the two leaves segments that every
  // reader already excludes by name, swept by the next retain.

  /** (basePosition, lastDroppedSegmentName) — frames logically before
    * the first on-disk segment, and the ordering floor for appends. */
  def retainInfo(dir: String): (Long, String) = {
    val f = new File(dir, "_retained")
    if (!f.exists()) (0L, "")
    else {
      val txt = new String(
        java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").trim
      val i = txt.indexOf(' ')
      (txt.substring(0, i).toLong, txt.substring(i + 1))
    }
  }

  private def retainedSegments(dir: String): Seq[File] = {
    val (_, lastDropped) = retainInfo(dir)
    segments(dir).filter(_.getName > lastDropped)
  }

  /** Drop whole segments entirely below `upToPosition` (exclusive).
    * Safe to call concurrently with readers at or past that position
    * — typically the streaming checkpoint's acked offset. Returns the
    * number of frames dropped. */
  def retain(dir: String, upToPosition: Long): Long = {
    val (base, _) = retainInfo(dir)
    var pos = base
    val droppable = retainedSegments(dir).takeWhile { f =>
      val n = countOf(f)
      if (pos + n <= upToPosition) { pos += n; true } else false
    }
    if (droppable.isEmpty) return 0L
    val dropped = pos - base
    // commit the new floor first: readers switch over atomically, and
    // a crash before deletion leaves files they already ignore
    val tmp = new File(dir, "_retained.tmp")
    java.nio.file.Files.write(tmp.toPath,
      s"$pos ${droppable.last.getName}".getBytes("UTF-8"))
    java.nio.file.Files.move(tmp.toPath, new File(dir, "_retained").toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    droppable.foreach(_.delete())
    dropped
  }

  /** Cut a crash-torn trailing record off a sealed segment so it can
    * never complete into a frame after readers have counted past it. */
  private def truncateTornTail(f: File): Unit = {
    val in = new DataInputStream(new FileInputStream(f))
    var good = 0L
    try {
      var complete = true
      while (complete && in.available() >= 4) {
        val len = in.readInt()
        if (len < 0) throw new IllegalStateException(
          s"corrupt frame log ${f.getName}: negative frame length $len")
        if (in.available() >= len) { in.skipBytes(len); good += 4L + len }
        else complete = false
      }
    } finally in.close()
    if (good < f.length()) {
      val raf = new java.io.RandomAccessFile(f, "rw")
      try raf.setLength(good) finally raf.close()
    }
  }

  private def segments(dir: String): Seq[File] = {
    val d = new File(dir)
    if (!d.exists()) Nil
    // underscore prefix = metadata, not frames (the Hadoop/Spark
    // convention, e.g. _SUCCESS) — a metadata file globbed as a
    // segment would be counted, torn-tail-truncated, or both
    else d.listFiles().filter(f => f.isFile && !f.getName.startsWith("_"))
      .sortBy(_.getName).toSeq
  }

  def frameCount(dir: String): Long = {
    val (base, _) = retainInfo(dir)
    base + retainedSegments(dir).map(countOf).sum
  }

  /** Per-segment complete-frame counts, keyed by (path, length).
    * The log is append-only and `append` truncates crash-torn tails
    * before writing, so a segment's count is a pure function of its
    * length — and `latestOffset` runs every trigger: without the
    * cache the source re-scans the ENTIRE backlog per poll (measured
    * 0.4-0.5s per trigger at a 204k-frame log; it grows linearly
    * with retained history). Sealed segments hit the cache forever;
    * only the live tail re-counts, and only when it grew. */
  private val countCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()
  private def countOf(f: File): Long = {
    val len = f.length()
    val c = countCache.get(f.getAbsolutePath)
    if (c != null && c._1 == len) c._2
    else {
      val n = countIn(f)
      countCache.put(f.getAbsolutePath, (len, n))
      n
    }
  }

  /** Count COMPLETE frames only: a segment torn mid-record by a
    * writer crash has a length header without a full body — counting
    * it would advance latestOffset onto a frame readRange can never
    * deliver (readFully EOF), poisoning the stream forever. A torn
    * tail was never durably written, so it is invisible (the
    * uncommitted-write semantics a WAL reader applies). */
  private def countIn(f: File): Long = {
    val in = new DataInputStream(new FileInputStream(f))
    try {
      var n = 0L
      var complete = true
      while (complete && in.available() >= 4) {
        val len = in.readInt()
        if (len < 0) throw new IllegalStateException(
          s"corrupt frame log ${f.getName}: negative frame length $len")
        if (in.available() >= len) { in.skipBytes(len); n += 1 }
        else complete = false
      }
      n
    } finally in.close()
  }

  /** Frames at positions [start, end) across all segments, in order. */
  def readRange(dir: String, start: Long, end: Long): Array[Array[Byte]] = {
    val out = Array.newBuilder[Array[Byte]]
    val (base, _) = retainInfo(dir)
    require(start >= base,
      s"frames [$start, $base) were retained away: a reader below the " +
        "retention floor lost data — retain() must follow the ack " +
        "watermark, never lead it")
    var pos = base
    retainedSegments(dir).foreach { f =>
      // whole segments before the range advance by cached count
      // without opening the file — a reader of offset N must not
      // re-scan the N frames behind it on every micro-batch
      if (pos < end && pos + countOf(f) <= start) pos += countOf(f)
      else if (pos < end) {
        val in = new DataInputStream(new FileInputStream(f))
        try {
          var complete = true
          while (complete && in.available() >= 4 && pos < end) {
            val len = in.readInt()
            if (len < 0) throw new IllegalStateException(
              s"corrupt frame log ${f.getName}: negative frame length $len")
            if (in.available() < len) complete = false // torn tail: stop
            else {
              if (pos >= start) {
                val buf = new Array[Byte](len)
                in.readFully(buf)
                out += buf
              } else in.skipBytes(len)
              pos += 1
            }
          }
        } finally in.close()
      }
    }
    out.result()
  }
}
