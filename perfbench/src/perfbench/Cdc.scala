package perfbench

import java.util.concurrent.locks.LockSupport
import org.apache.spark.sql.functions.col

import graft.model.{Envelope, TableSchema}
import graft.sinks.{Sink, WarehouseSink}
import graft.sources.{ChangelogBuilder, ImportSource, PgOutput, PgOutputFrameLog}
import graft.streaming.{CdcPipeline, FrameStreamPipeline}

/** The reference's table lifecycle, end to end, in one pipeline:
  *
  *  1. import: four tables through `ImportSource.importTable` and
  *     `CdcPipeline.consumeBatch` into a `WarehouseSink`;
  *  2. catch-up: a pre-generated backlog of 50-row transactions on
  *     their keys (Zipf keys, ~10% deletes, ~10% unchanged-TOAST
  *     updates) drains through `FrameStreamPipeline` (100 ms trigger,
  *     default admission, retained log);
  *  3. live: the same running pipeline then takes an open loop of
  *     5-row transactions on two tables, appended on a fixed schedule
  *     every 10 ms whether or not acks arrive, at two fixed rates; a
  *     poller records when `AckWatermark.position` reaches each commit
  *     LSN;
  *  4. read: each table's `latestView`, read twice.
  *
  * Catch-up runs decode, routing and sink writes at full batch size;
  * live is dominated by the per-epoch fixed costs; the read windows
  * over the files the stream wrote. */
object Cdc {
  val BacklogRowsPerTxn = 50
  /** Backlog transactions per second of `--seconds`. */
  val BacklogTxnsPerSecond = 60
  val BacklogMix = Mix(update = 0.8, insert = 0.1, toast = 0.1)
  val LiveRowsPerTxn = 5
  val LiveMix = Mix(update = 0.7, insert = 0.2, toast = 0.0)
  val TickMs = 10
  /** (step, live transactions per 10 ms tick, share of `--seconds`):
    * 100 txn/s (500 rows/s), then 500 txn/s (2500 rows/s). The rates
    * are fixed numbers, never derived from a run. */
  val Steps: Seq[(String, Int, Double)] = Seq(("low", 1, 2.0 / 3), ("high", 5, 1.0 / 3))
  val LimitMs = 2000.0
  val Reads = 2

  /** (table, relation id, primary key, TOAST column). */
  private val Spec: Seq[(String, Long, Seq[String], String)] = Seq(
    ("orders", 21L, Seq("o_orderkey"), "o_orderpriority"),
    ("customer", 22L, Seq("c_custkey"), "c_name"),
    ("part", 23L, Seq("p_partkey"), "p_name"),
    ("lineitem", 24L, Seq("l_orderkey", "l_linenumber"), "l_returnflag"))
  private val LiveTables = Set("orders", "customer")

  /** A live transaction as scheduled and as seen acked. */
  private final class Sent(val txn: Txn, val dueNs: Long) {
    @volatile var appendedNs = 0L
    @volatile var ackedNs = 0L
  }

  /** Appends frame segments with ever-increasing names. */
  private final class Log(val dir: String) {
    private var seg = 0
    def append(frames: Seq[Array[Byte]]): Unit = {
      PgOutputFrameLog.append(dir, f"seg-$seg%09d", frames)
      seg += 1
    }
  }

  /** What one pass over the lifecycle measured. */
  private final case class Pass(gen: CdcGen, wh: WarehouseSink, watermark: Option[Long],
      importRows: Long, backlogRows: Long, importS: Double, catchupS: Double,
      readS: Seq[Seq[Double]], prints: Map[String, (Long, java.math.BigDecimal)],
      live: Seq[(String, Seq[Sent])], lateMs: Seq[Double], layers: Map[String, Double]) {
    def readRepS: Double = Stats.median(readS.map(_.sum))
    /** The closed-loop phases; the live steps run on a fixed schedule. */
    def closedS: Double = importS + catchupS + readS.flatten.sum
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tables = Spec.map { case (name, relId, keys, toast) =>
      val schema = ImportSource.table(spark, ctx.dataDir, name).schema
      GenTable(relId, name, schema.fields.toSeq.map(f =>
        GenCol(f.name, f.dataType, keys.contains(f.name))), toast)
    }
    val live = tables.filter(t => LiveTables(t.name))
    val keySpace = tables.map(t => t.name -> ctx.parquetRows(s"${ctx.dataDir}/${t.name}.parquet")).toMap
    val nBacklog = math.max(50, (ctx.seconds * BacklogTxnsPerSecond).toInt)

    /** A fresh generator and the frame log of its backlog. */
    def prepare(tag: String): (CdcGen, Log, Seq[Txn]) = {
      val gen = new CdcGen(ctx.seed, tables, keySpace)
      val log = new Log(s"${ctx.workDir}/frames-$tag")
      val backlog = Seq.fill(nBacklog)(gen.txn(BacklogRowsPerTxn, tables, BacklogMix))
      (gen.relations() ++ backlog.flatMap(_.frames)).grouped(20000).foreach(log.append)
      (gen, log, backlog)
    }

    def pass(tag: String, tr: Tracer, prepared: (CdcGen, Log, Seq[Txn])): Pass = {
      val (gen, log, backlog) = prepared
      val wh = new WarehouseSink(spark, s"${ctx.workDir}/wh-$tag")
      val timing = if (tr.enabled) Some(new TimingSink(wh, tr)) else None
      val sink: Sink = timing.getOrElse(wh)
      val wm = new CdcPipeline.AckWatermark
      val probe = if (tr.enabled) Some(ctx.installSparkProbe()) else None
      val progress = if (tr.enabled) Some(ctx.installProgressProbe()) else None
      val c0 = probe.map(_.counters)
      val backlogLsn = gen.lastLsn
      @volatile var lagMax = 0L
      def sampleLag(): Unit =
        progress.foreach(p => lagMax = math.max(lagMax, gen.framesEmitted - p.committedFrames))
      tr.span("workload", "workload") {
        val i0 = tr.now
        val (importRows, importS) = tr.span("import", "phase") {
          Stats.time(tables.map { t =>
            tr.span(s"import:${t.name}", "sources") {
              CdcPipeline.consumeBatch(ImportSource.importTable(spark, ctx.dataDir, t.name,
                CdcGen.ImportAsOf), schemaOf(t), sink, wm).count
            }
          }.sum)
        }
        val i1 = tr.now
        ctx.heap.checkpoint()
        val importFiles = tables.map(t => parquetFiles(wh.rawPath(schemaOf(t)))).sum
        val q = FrameStreamPipeline.start(spark, log.dir, sink, wm,
          s"${ctx.workDir}/ckpt-$tag", "100 milliseconds", retainLog = true)
        val (steps, catchupS) = try {
          val (_, catchupS) = tr.span("catchup", "phase") {
            Stats.time(Wait.until(q, "catch-up") { sampleLag(); wm.position.contains(backlogLsn) })
          }
          (schedule(tr, gen, live, wm, q, log, ctx.seconds, () => sampleLag()), catchupS)
        } finally q.stop()
        val s1 = tr.now
        ctx.heap.checkpoint()
        val c1 = probe.map(_.counters)
        // a read computes the view's row count and row hash: every
        // column of every latest row is materialised, and the last
        // read's fingerprint is what the correctness check compares
        val reads = tr.span("read", "phase") {
          (1 to Reads).map { _ =>
            tables.map { t =>
              tr.span(s"latest_view:${t.name}", "ops") {
                Stats.time(CdcGen.fingerprint(wh.latestView(schemaOf(t)), t.cols.map(_.name)))
              }
            }
          }
        }
        val readS = reads.map(_.map(_._2))
        val c2 = probe.map(_.counters)
        val sent = steps.flatMap(_._2)
        val layers = probe.map { p =>
          val epochs = progress.get.all.filter(e => tr.fromEpochMs(e.startMs) >= i1 - 2000000L)
          val read = c2.get - c1.get
          Map("sources.import_s" -> importS,
            "sources.import_jobs" -> p.jobsIn(i0, i1).size.toDouble,
            "sources.lag_frames_max" -> lagMax.toDouble,
            "sources.decode_rows_per_s" ->
              decodeRate(backlog ++ sent.map(_.txn), tables.map(_.relation)),
            "sinks.bytes_written" -> (c1.get - c0.get).outputBytes.toDouble,
            "sinks.files_written" ->
              (tables.map(t => parquetFiles(wh.rawPath(schemaOf(t)))).sum - importFiles).toDouble,
            "ops.latest_view_jobs" -> read.jobs.toDouble / Reads,
            "ops.latest_view_shuffle_bytes" -> (read.shuffleRead + read.shuffleWrite).toDouble / Reads,
            "ops.latest_view_input_files" ->
              tables.map(t => wh.latestView(schemaOf(t)).inputFiles.length).sum.toDouble) ++
            streamLayers(epochs, timing.get.inserts, tr, (s1 - i1) / 1e9) ++
            queueSplit(sent, epochs, tr) ++
            ctx.sparkLayer(c2.get - c0.get)
        }.getOrElse(Map.empty)
        Pass(gen, wh, wm.position, importRows, backlog.map(_.rows).sum, importS, catchupS,
          readS, tables.map(_.name).zip(reads.last.map(_._1)).toMap,
          steps, sent.map(s => (s.appendedNs - s.dueNs) / 1e6), layers)
      }
    }

    warmUp(ctx, tables, live)
    if (!ctx.traced) {
      val prepared = prepare("run")
      ctx.ready()
      ctx.heap.start()
      val p = pass("run", ctx.tracer, prepared)
      val heapMb = ctx.heap.stopMb()
      val (checks, verifyS) = Stats.time(verify(ctx, p, tables))
      val lats = p.live.flatMap(_._2).filter(_.ackedNs > 0).map(latencyMs)
      Outcome(
        Map("p50_ms" -> Stats.median(lats), "p99_ms" -> Stats.quantile(lats, 0.99),
          "rows_per_s" -> (p.importRows + p.backlogRows) / (p.importS + p.catchupS + p.readRepS)),
        Map.empty, p.live.map(_._2.size).sum + checks.size,
        failedTxns(p) + checks.count(!_._2), checks,
        report(p) ++ Map("peak_heap_mb" -> heapMb, "verify_s" -> verifyS))
    } else {
      ctx.ready()
      // a discarded warm pass, the same pass untraced, then traced: the
      // ratio of the last two is the tracing overhead
      val untraced = new Tracer(false, "")
      pass("warm-pass", untraced, prepare("warm-pass"))
      val plain = pass("plain", untraced, prepare("plain"))
      val prepared = prepare("traced")
      ctx.heap.start()
      val traced = pass("traced", ctx.tracer, prepared)
      val heapMb = ctx.heap.stopMb()
      val checks = verify(ctx, traced, tables)
      Outcome(Map.empty, traced.layers ++ Map(
          "gen.late_ms_p99" -> Stats.quantile(traced.lateMs, 0.99),
          "trace.overhead_ratio" -> traced.closedS / plain.closedS,
          "jvm.peak_heap_mb" -> heapMb),
        traced.live.map(_._2.size).sum + checks.size,
        failedTxns(traced) + checks.count(!_._2), checks, report(traced))
    }
  }

  /** Streaming, source and sink layer figures of a traced window, from
    * progress events and the timing sink's insert intervals. */
  private def streamLayers(epochs: Seq[Epoch], inserts: Seq[(Long, Long)], tr: Tracer,
      wallS: Double): Map[String, Double] = {
    val sinkInEpochs = epochs.map { e =>
      val s = tr.fromEpochMs(e.startMs)
      Tracer.covered(s, s + e.dur("triggerExecution") * 1000000L, inserts)
    }.sum / 1e9
    val ins = inserts.map { case (s, e) => (e - s) / 1e9 }
    Map(
      "streaming.epochs" -> epochs.size.toDouble,
      "streaming.rows_per_epoch" ->
        (if (epochs.isEmpty) 0.0 else epochs.map(_.inputRows).sum.toDouble / epochs.size),
      "sources.frame_read_s" -> epochs.map(e => e.dur("latestOffset") + e.dur("getBatch")).sum / 1e3,
      "streaming.commit_s" -> epochs.map(e => e.dur("walCommit") + e.dur("commitOffsets")).sum / 1e3,
      "streaming.driver_s" -> (epochs.map(_.dur("addBatch")).sum / 1e3 - sinkInEpochs),
      "streaming.trigger_idle_s" -> (wallS - epochs.map(_.dur("triggerExecution")).sum / 1e3),
      "sinks.insert_calls" -> ins.size.toDouble,
      "sinks.insert_s" -> ins.sum,
      "sinks.insert_s.p99" -> (if (ins.isEmpty) 0.0 else Stats.quantile(ins, 0.99)))
  }

  /** Rows per second of the driver-side decode loop alone:
    * `PgOutput.decode` plus `ChangelogBuilder.push` over the frames,
    * best of three passes. */
  private def decodeRate(txns: Seq[Txn], relations: Seq[Array[Byte]]): Double = {
    val frames = relations ++ txns.flatMap(_.frames)
    val rows = txns.map(_.rows).sum
    (1 to 3).map { _ =>
      Stats.time {
        var n = 0L
        new ChangelogBuilder().push(frames.iterator.map(PgOutput.decode)).foreach {
          case _: ChangelogBuilder.ModificationEntry => n += 1
          case _ =>
        }
        require(n == rows, s"decode saw $n of $rows rows")
      }._2
    }.map(rows / _).max
  }

  private def latencyMs(s: Sent): Double = (s.ackedNs - s.dueNs) / 1e6

  /** Live transactions never acked, or acked past the latency limit. */
  private def failedTxns(p: Pass): Long =
    p.live.flatMap(_._2).count(s => s.ackedNs == 0 || latencyMs(s) > LimitMs)

  /** The named figures of each phase, printed beside the metrics. */
  private def report(p: Pass): Map[String, Any] = {
    val steps = p.live.flatMap { case (name, sent) =>
      val l = sent.filter(_.ackedNs > 0).map(latencyMs)
      // backlog: transactions appended but not yet acked, sampled at
      // ten points past the first fifth of the step; growth from the
      // first half of the samples to the second is flagged
      val at = sent.drop(sent.size / 5).grouped(math.max(1, sent.size / 10)).map(_.head.appendedNs).toSeq
      val backlog = at.map(t => sent.count(s => s.appendedNs <= t && (s.ackedNs == 0 || s.ackedNs > t)))
      val (h1, h2) = backlog.splitAt(backlog.size / 2)
      Seq(s"ack_p50_ms.$name" -> Stats.median(l), s"ack_p99_ms.$name" -> Stats.quantile(l, 0.99),
        s"live_txns.$name" -> sent.size,
        s"backlog_growing.$name" -> (h2.sum.toDouble / h2.size > 2.0 * h1.sum / h1.size + 5))
    }
    steps.toMap ++ Map(
      "import_rows_per_s" -> p.importRows / p.importS,
      "catchup_rows_per_s" -> p.backlogRows / p.catchupS,
      "latest_view_s" -> p.readRepS,
      "gen.late_ms_p99" -> Stats.quantile(p.lateMs, 0.99),
      "import_rows" -> p.importRows, "backlog_rows" -> p.backlogRows,
      "live_unacked_or_late" -> failedTxns(p))
  }

  /** The live steps: one segment per tick, appended when due; after
    * each step, wait for its acks at most until the latency limit. */
  private def schedule(tr: Tracer, gen: CdcGen, live: Seq[GenTable],
      wm: CdcPipeline.AckWatermark, q: org.apache.spark.sql.streaming.StreamingQuery,
      log: Log, seconds: Double, sampleLag: () => Unit): Seq[(String, Seq[Sent])] = {
    val pending = new java.util.concurrent.ConcurrentLinkedQueue[Sent]()
    @volatile var stop = false
    val poller = new Thread(() => {
      while (!stop) {
        val pos = wm.position.getOrElse(-1L)
        val now = System.nanoTime()
        while (!pending.isEmpty && pending.peek().txn.lsn <= pos) pending.poll().ackedNs = now
        sampleLag()
        LockSupport.parkNanos(200000L)
      }
    }, "perfbench-ack-poller")
    poller.setDaemon(true)
    poller.start()
    try Steps.map { case (name, perTick, share) =>
      // generated up front: a tick only appends
      val ticks = Vector.fill(math.max(10, (seconds * share * 1000 / TickMs).toInt))(
        Vector.fill(perTick)(gen.txn(LiveRowsPerTxn, live, LiveMix)))
      tr.span(s"live:$name", "phase") {
        val start = System.nanoTime() + 5000000L
        val sent = ticks.zipWithIndex.flatMap { case (batch, k) =>
          val due = start + k * TickMs * 1000000L
          val wait = due - System.nanoTime()
          if (wait > 0) LockSupport.parkNanos(wait)
          val tick = batch.map(new Sent(_, due))
          tick.foreach(pending.add)
          log.append(batch.flatMap(_.frames))
          val at = System.nanoTime()
          tick.foreach(_.appendedNs = at)
          tick
        }
        val deadline = sent.last.dueNs + (LimitMs * 1e6).toLong
        while (sent.last.ackedNs == 0L && System.nanoTime() < deadline) {
          q.exception.foreach(e => throw e)
          LockSupport.parkNanos(1000000L)
        }
        name -> sent
      }
    } finally {
      stop = true
      poller.join()
    }
  }

  /** Splits each live transaction's latency at the start of the
    * trigger that admitted it: queue wait before, epoch after. */
  private def queueSplit(sent: Seq[Sent], epochs: Seq[Epoch], tr: Tracer): Map[String, Double] = {
    val split = sent.filter(_.ackedNs > 0).flatMap { s =>
      epochs.find(e => e.startOffset <= s.txn.commitPos && s.txn.commitPos < e.endOffset).map { e =>
        val start = tr.origin + tr.fromEpochMs(e.startMs)
        ((start - s.dueNs) / 1e6, (s.ackedNs - start) / 1e6)
      }
    }
    if (split.isEmpty) Map.empty
    else Map("streaming.queue_wait_ms.p50" -> Stats.median(split.map(_._1)),
      "streaming.epoch_ms.p50" -> Stats.median(split.map(_._2)))
  }

  private def schemaOf(t: GenTable): TableSchema =
    Envelope.tableSchemaOf(t.relId, "public", t.name, t.schema, t.keys)

  private def parquetFiles(dir: String): Long = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val s = java.nio.file.Files.walk(root)
      try s.filter(_.toString.endsWith(".parquet")).count() finally s.close()
    }
  }

  /** A small import, a short backlog and live stream, and one read of
    * every table, into a throwaway warehouse: the timed pass runs warm. */
  private def warmUp(ctx: Ctx, tables: Seq[GenTable], live: Seq[GenTable]): Unit = {
    val spark = ctx.spark
    val wh = new WarehouseSink(spark, s"${ctx.workDir}/wh-warm")
    val wm = new CdcPipeline.AckWatermark
    Conc.foreach(tables, tables.size) { t =>
      val small = ImportSource.importTable(spark, ctx.dataDir, t.name, CdcGen.ImportAsOf)
        .where(col(s"${Envelope.AfterCol}.${t.keys.head}") < 2000)
      CdcPipeline.consumeBatch(small, schemaOf(t), wh, wm)
    }
    val gen = new CdcGen(ctx.seed + 1, tables, tables.map(_.name -> 2000L).toMap)
    val log = new Log(s"${ctx.workDir}/frames-warm")
    log.append(gen.relations() ++
      Seq.fill(100)(gen.txn(BacklogRowsPerTxn, tables, BacklogMix)).flatMap(_.frames))
    val q = FrameStreamPipeline.start(spark, log.dir, wh, wm, s"${ctx.workDir}/ckpt-warm",
      "100 milliseconds", retainLog = true)
    try {
      Wait.until(q, "warm-up backlog")(wm.position.contains(gen.lastLsn))
      (1 to 50).foreach { _ =>
        log.append(gen.txn(LiveRowsPerTxn, live, LiveMix).frames)
        Thread.sleep(TickMs)
      }
      Wait.until(q, "warm-up live")(wm.position.contains(gen.lastLsn))
    } finally q.stop()
    Conc.foreach(tables, tables.size) { t =>
      wh.latestView(schemaOf(t)).write.format("noop").mode("overwrite").save()
    }
  }

  /** Untimed: each latest view's last read against the model (count and row hash),
    * each raw table's row count against the rows imported and emitted,
    * and the final watermark against the last commit LSN. */
  private def verify(ctx: Ctx, p: Pass, tables: Seq[GenTable]): Seq[(String, Boolean, String)] = {
    val spark = ctx.spark
    Conc.map(tables, tables.size) { t =>
      val names = t.cols.map(_.name)
      val imported = spark.read.parquet(s"${ctx.dataDir}/${t.name}.parquet")
        .select(t.cols.map(c => col(c.name).cast(c.dataType)): _*)
      val got = p.prints(t.name)
      val want0 = CdcGen.fingerprint(p.gen.expected(spark, t, Some(imported)), names)
      val want = if (ctx.breakCheck && t == tables.head) (want0._1 + 1, want0._2) else want0
      val raw = p.wh.raw(schemaOf(t)).count()
      val rawWant = imported.count() + p.gen.rowsEmitted(t.name)
      Seq((s"latest_view:${t.name}", got == want, s"got $got want $want"),
        (s"raw_rows:${t.name}", raw == rawWant, s"got $raw want $rawWant"))
    }.flatten :+
      ("watermark", p.watermark.contains(p.gen.lastLsn), s"got ${p.watermark} want ${p.gen.lastLsn}")
  }
}
