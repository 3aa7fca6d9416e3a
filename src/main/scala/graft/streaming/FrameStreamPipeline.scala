package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.model.{Envelope, TableSchema}
import graft.sinks.{InsertResult, Sink}
import graft.sources.{ChangelogBuilder, FrameRange, PgOutput, PgOutputFrameLog}
import org.apache.spark.sql.graftbridge.Bridge

/** The complete streaming CDC lifecycle (SURVEY §3.1) on Spark:
  * frame source → ordered decode → route per table → sink insert →
  * ack. One streaming query routes every table; the ordered, stateful
  * stage is the driver-side decode (relation cache + transaction
  * framing live across micro-batches in a [[ChangelogBuilder]]); each
  * table's epoch batch is one driver-built partition, one insert.
  *
  * This mirrors the reference's thread chain — receive loop,
  * Sequence, BuildChangelog, router, sink (cmd/pgsink/cmd/app.go:
  * 340-346) — collapsed onto Structured Streaming's micro-batch
  * clock: trigger = flush interval, foreachBatch = flush epoch,
  * checkpoint commit + AckWatermark = Confirm. The commit is one
  * offsets file before the batch and one commits file after it; on a
  * local checkpoint a session built through [[graft.SessionDefaults]]
  * writes both with [[LocalCheckpointFileManager]], which launches no
  * process per file, where Spark's default manager runs ~20 per epoch.
  *
  * A flush epoch starts no Spark job of its own. Its frames are read
  * on the driver (`Bridge.readMicroBatch`): the `foreachBatch` plan
  * names the epoch's [[graft.sources.FrameRange]]s, which
  * `PgOutputFrameLog.readRange` reads, and the frame count is added
  * to the query's `MicroBatchScanExec` `numOutputRows` metric, the one
  * Spark's progress reports as `numInputRows` (so [[CdcQueryListener]]
  * counts true rows). When the plan does not have that shape, the
  * epoch falls back to collecting the batch through one Spark job.
  * The warehouse sink writes its parquet on the driver too, with no
  * process per file.
  */
object FrameStreamPipeline {

  /** Shared pool for the per-table concurrent inserts: one flush
    * epoch runs at a time per query, so a process-wide bounded pool
    * (8 daemon threads, idle-reclaimed) serves every pipeline without
    * per-epoch executor churn — a 1-second trigger would otherwise
    * create and tear down a pool every epoch, forever. The warehouse
    * sink writes each table's rows on its pool thread, with no Spark
    * job, so tables write their parquet in parallel. Sinks that write
    * through Spark (file, BigQuery) start one job per table from
    * here; the cap bounds those jobs in flight, each one task (every
    * table's epoch batch is one partition, see processBatch), and the
    * driver-side row conversion. */
  private lazy val insertEc: scala.concurrent.ExecutionContext = {
    val tf = new java.util.concurrent.ThreadFactory {
      private val n = new java.util.concurrent.atomic.AtomicInteger(0)
      override def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"graft-table-insert-${n.incrementAndGet()}")
        t.setDaemon(true)
        t
      }
    }
    // core == max with core-timeout: an unbounded work queue means
    // maxPoolSize beyond core NEVER engages (the JDK grows past core
    // only when the queue rejects), so the 8 threads must all be core
    // — idle ones reclaim after 30s via allowCoreThreadTimeOut
    val pool = new java.util.concurrent.ThreadPoolExecutor(
      8, 8, 30L, java.util.concurrent.TimeUnit.SECONDS,
      new java.util.concurrent.LinkedBlockingQueue[Runnable](), tf)
    pool.allowCoreThreadTimeOut(true)
    scala.concurrent.ExecutionContext.fromExecutor(pool)
  }

  def start(
      spark: SparkSession,
      frameDir: String,
      sink: Sink,
      watermark: CdcPipeline.AckWatermark,
      checkpoint: String,
      flushInterval: String = "5 seconds",
      maxFramesPerTrigger: Option[Long] = None,
      retainLog: Boolean = false): StreamingQuery = {
    val builder = new ChangelogBuilder // driver-side, lives across batches

    val reader = spark.readStream
      .format("graft.sources.PgOutputFrameSource")
      .option("path", frameDir)
    // flush-epoch sizing knob, the reference's --import-worker.buffer
    // shape: None keeps the source's default admission bound (5000)
    maxFramesPerTrigger.foreach(n =>
      reader.option("maxFramesPerTrigger", n.toString))
    reader.load()
      .writeStream
      .queryName(s"cdc-frames($frameDir)")
      .trigger(Trigger.ProcessingTime(flushInterval))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val batchStart = processBatch(spark, batch, builder, sink, watermark)
        // Drop log segments this consumer can never need again: every
        // frame before THIS batch's first position is committed in
        // the checkpoint (the current batch itself stays — it may
        // replay after a crash). Retention follows the read position,
        // the restart_lsn-advance move of the reference's slot. Only
        // sound when this query is the log's single consumer — the
        // composed live pipeline's shape.
        if (retainLog)
          batchStart.foreach(p =>
            graft.sources.PgOutputFrameLog.retain(frameDir, p))
        ()
      }
      .start()
  }

  /** One flush epoch: decode the batch's frames in position order,
    * dispatch Schema entries to sink DDL, group modifications per
    * table (the Router), append, and confirm the LSN of the last
    * Commit decoded. Rows of a transaction whose Commit falls in a
    * later epoch are written now but acked only with that epoch. */
  private[graft] def processBatch(
      spark: SparkSession,
      batch: DataFrame,
      builder: ChangelogBuilder,
      sink: Sink,
      watermark: CdcPipeline.AckWatermark): Option[Long] = {
    // The epoch's FrameRanges are read on the driver, from the log
    // the driver already reads and retains, with no Spark job; their
    // frame count goes into the scan's numOutputRows, where progress
    // reads numInputRows. A batch of any other shape (a test's toDF
    // batch, a Spark whose plan shape moved) is collected through one
    // Spark job instead. Either way the read is bounded by the
    // source's admission control (maxFramesPerTrigger, default 5000 —
    // see PgOutputFrameSource), not by backlog size: a restart against
    // a large frame log drains in bounded micro-batches. The position
    // sort happens on the driver — a distributed orderBy before a full
    // collect pays a range-sampling job plus a sort exchange per flush
    // epoch for an array the driver re-materializes anyway.
    val frames = Bridge.readMicroBatch(spark, batch) {
      case r: FrameRange =>
        PgOutputFrameLog.readRange(r.path, r.start, r.end).toSeq
          .zipWithIndex.map { case (f, i) => (r.start + i, f) }
    }.getOrElse(batch.select("position", "frame").collect().toSeq
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1))))
      .sortBy(_._1)
    if (frames.isEmpty) return None
    val entries = builder.push(frames.iterator.map(f => PgOutput.decode(f._2))).toVector

    val schemas = scala.collection.mutable.Map.empty[String, TableSchema]
    entries.foreach {
      case ChangelogBuilder.SchemaEntry(_, _, schema) =>
        sink.handleSchema(schema)
        schemas(schema.ref.qualified) = schema
      case _ =>
    }

    val mods = entries.collect { case m: ChangelogBuilder.ModificationEntry => m }
    // Per-table inserts run CONCURRENTLY — the reference's per-table
    // async inserter (pkg/sinks buffered inserters, one per table).
    // The warehouse sink writes a table's driver-held rows on the
    // driver, no Spark job, so the tables' parquet writes overlap on
    // the pool. A sink that writes through Spark issues one job per
    // table, and the routed path's cost at N tables is N sequential
    // jobs per flush epoch if issued one at a time — the fan-out term
    // (8 tables halved throughput when serialized, SCALING round 5);
    // Spark's scheduler interleaves concurrently-submitted jobs across
    // the executor pool. Bounded pool: table count capped at 8
    // threads, which bounds driver-side row conversion and the jobs in
    // flight; each job is a single write task (one partition per
    // table, see the LocalRelation below). Ordering is untouched: rows
    // within a table stay one append; cross-table ordering is carried
    // by (timestamp, lsn, sequence) in the data, not by call order;
    // the epoch's ack still waits for EVERY insert (Await below), so a
    // failure fails the batch before anything is confirmed.
    val byTable = mods.groupBy(m => s"${m.namespace}.${m.name}").toSeq
    if (byTable.nonEmpty) {
      implicit val ec: scala.concurrent.ExecutionContext = insertEc
      // Spark's job group / description ride InheritableThreadLocal
      // local properties, which pool threads inherit from whichever
      // thread CREATED them — not the submitting micro-batch thread.
      // Without re-stamping, StreamExecution.stop()'s cancelJobGroup
      // misses in-flight insert jobs (and, with two pipelines in one
      // process, can cancel the OTHER query's). Snapshot the three
      // relevant properties here and set them inside every future.
      val sc = spark.sparkContext
      val localProps = Seq("spark.jobGroup.id", "spark.job.description",
        "spark.job.interruptOnCancel").map(k => k -> sc.getLocalProperty(k))
      locally {
        // Resolve EVERY table's schema before creating ANY future: a
        // Future submits on construction, so resolving inside the same
        // map would let a missing-schema throw escape this block while
        // earlier tables' inserts are still in flight — exactly the
        // orphaned-write vs supervisor-replay race the settle-all
        // barrier below exists to prevent. Schema comes from this
        // batch, or the builder's cache when the Relation message
        // arrived in an earlier flush epoch.
        val resolved = byTable.map { case (table, ms) =>
          val schema = schemas.getOrElse(table, builder.schemaOf(table)
            .getOrElse(throw new IllegalStateException(
              s"no schema known for $table: relation must precede rows")))
          (schema, ms)
        }
        val inserts = resolved.map { case (schema, ms) =>
          scala.concurrent.Future {
            localProps.foreach { case (k, v) => sc.setLocalProperty(k, v) }
            val payloadType = schema.payloadStruct
            val rows = ms.map(m => Row(
              m.timestamp, m.lsn.orNull, m.sequence.orNull,
              Envelope.operationOf(m.lsn, m.before, m.after),
              imageRow(payloadType, m.before), imageRow(payloadType, m.after),
              if (m.unchangedToast.isEmpty) null else m.unchangedToast))
            // LocalRelation, not parallelize(rows): the local form
            // converts to compact UnsafeRows ONCE on the driver and
            // ships binary; parallelize Java-serializes every nested
            // Row into the task closures on each use. ONE partition:
            // a LocalRelation scans as min(rows, defaultParallelism)
            // partitions, i.e. one write task and one parquet file per
            // core, each paying task deserialization and a file commit
            // on the ack's blocking path. The driver holds every row
            // and admission (maxFramesPerTrigger) bounds the epoch, so
            // one task gives up no useful parallelism; the import path
            // keeps its parallel write. The warehouse sink recognises
            // this shape and writes it on the driver with no job.
            val df = spark.createDataFrame(
              scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava,
              Envelope.schemaFor(payloadType, withToastMarker = true))
              .coalesce(1)
            // the fold is already known on the driver (we hold the
            // rows): pass it down so the sink skips the count/max job
            val known = InsertResult(ms.size.toLong,
              ms.flatMap(_.lsn).reduceOption(_ max _))
            sink.insertCounted(schema, df, known)
          }
        }
        // SETTLE every insert before judging the epoch: a fail-fast
        // rethrow would leave sibling writes in flight past the batch
        // failure, and a supervisor-restarted query's replay could
        // then append to the same raw-table path CONCURRENTLY with
        // the orphaned write (two jobs sharing one FileOutputCommitter
        // staging dir can destroy each other's task files). All
        // futures complete — success or failure — then the first
        // failure fails the epoch with nothing left running.
        val settled = scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(
            inserts.map(_.transform(scala.util.Success(_)))),
          scala.concurrent.duration.Duration.Inf)
        settled.collectFirst { case scala.util.Failure(e) => e }
          .foreach(e => throw e)
      }
    }
    // truncates are position-stamped markers: ordering against the
    // inserts above is carried by (timestamp, lsn, sequence), not by
    // sink-call order, so recording them after the appends is safe
    entries.foreach {
      case t: ChangelogBuilder.TruncateEntry =>
        sink.truncate(t.schema, t.timestamp, t.lsn, t.sequence)
      case _ =>
    }
    // the ack covers only transactions whose Commit was decoded, so a
    // truncate-only transaction advances it like any other
    builder.lastCommitLsn.foreach(watermark.confirm)
    Some(frames.head._1) // the epoch's first frame position
  }

  private def imageRow(payload: StructType, m: Option[Map[String, Any]]): Row =
    m.map { values =>
      Row.fromSeq(payload.fields.toIndexedSeq.map(f => values.get(f.name).orNull))
    }.orNull
}
