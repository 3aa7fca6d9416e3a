package perfbench

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry

/** Closed loop, one client: passes over twelve declared queries, each
  * run to the `noop` sink. The seed rotates the order within a pass.
  * The set mixes the CDC read surface, the job-heavy iterative queries
  * and single-plan scan/shuffle queries, so query-floor changes show
  * here and CDC changes do not. */
object QueryMix {
  val Queries: Seq[String] = Seq(
    "q04_latest_row", "q36_cdc_apply", "q80_scd2", "q136_snapshot_diff",
    "q03_import_envelope", "q143_incremental_clusters", "q156_logreg",
    "q149_pagerank", "q191_two_level_recall_np1", "q154_kmeans",
    "q01_agg", "q89_bigram_lm")

  /** Input tables per query, for the rows-read throughput. */
  private val Inputs: Map[String, Seq[String]] = Map(
    "q04_latest_row" -> Seq("events"), "q36_cdc_apply" -> Seq("orders"),
    "q80_scd2" -> Seq("events"), "q136_snapshot_diff" -> Seq("orders"),
    "q03_import_envelope" -> Seq("customer"),
    "q143_incremental_clusters" -> Seq("documents"),
    "q156_logreg" -> Seq("documents"), "q149_pagerank" -> Seq("orders", "lineitem"),
    "q191_two_level_recall_np1" -> Seq("embeddings"),
    "q154_kmeans" -> Seq("embeddings"), "q01_agg" -> Seq("lineitem"),
    "q89_bigram_lm" -> Seq("documents"))

  private final case class Run(name: String, buildS: Double, execS: Double,
      start: Long, buildEnd: Long, end: Long) {
    def wallS: Double = buildS + execS
  }

  /** Catalyst phase time of every QueryExecution that finished. */
  private final class CatalystProbe extends QueryExecutionListener {
    @volatile var ms = 0L
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      synchronized { ms += qe.tracker.phases.values.map(_.durationMs).sum }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val order = {
      val k = (ctx.seed % Queries.size).toInt
      Queries.drop(k) ++ Queries.take(k)
    }
    val tableRows = Inputs.values.flatten.toSeq.distinct
      .map(t => t -> ctx.parquetRows(s"${ctx.dataDir}/$t.parquet")).toMap
    val passRows = order.flatMap(Inputs).map(tableRows).sum.toDouble

    // set-up: the untimed correctness pass, three queries at a time,
    // doubles as the warm-up. The oracle SQL goes out first so the
    // oracle runs beside it; the timed passes start only once the
    // oracle is done.
    val resultDir = s"${ctx.workDir}/results"
    new java.io.File(resultDir).mkdirs()
    val sqlTmp = java.nio.file.Paths.get(s"$resultDir/oracle_sql.json.tmp")
    java.nio.file.Files.writeString(sqlTmp, Json(order.map(q => q -> SparkEntry.oracleSql(q)).toMap))
    java.nio.file.Files.move(sqlTmp, java.nio.file.Paths.get(s"$resultDir/oracle_sql.json"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    Conc.foreach(order, 3) { q =>
      SparkEntry.queries(q)(spark, ctx.dataDir).coalesce(1)
        .write.mode("overwrite").parquet(s"$resultDir/$q")
    }
    val oracleReady = new java.io.File(s"${ctx.workDir}/oracle.ready")
    val deadline = System.nanoTime() + 120000000000L
    while (!oracleReady.exists()) {
      require(System.nanoTime() < deadline, "oracle never finished")
      Thread.sleep(20)
    }
    ctx.ready()

    def pass(tr: Tracer): Seq[Run] = tr.span("pass", "phase") {
      order.map { q =>
        tr.span(q, "query") {
          val t0 = tr.now
          val df = tr.span("build", "SparkEntry") {
            SparkEntry.queries(q)(spark, ctx.dataDir)
          }
          val t1 = tr.now
          tr.span("exec", "SparkEntry") {
            df.write.format("noop").mode("overwrite").save()
          }
          val t2 = tr.now
          Run(q, (t1 - t0) / 1e9, (t2 - t1) / 1e9, t0, t1, t2)
        }
      }
    }

    if (!ctx.traced) {
      // at least two passes, more while another fits in the measured
      // seconds; a query's latency is the best of its runs, as in Bench
      ctx.heap.start()
      val t0 = System.nanoTime()
      val passes = Vector.newBuilder[Seq[Run]]
      var n = 0
      var last = 0.0
      while (n < 2 || (System.nanoTime() - t0) / 1e9 + last <= ctx.seconds) {
        val p = pass(ctx.tracer)
        ctx.heap.checkpoint()
        passes += p
        last = p.map(_.wallS).sum
        n += 1
      }
      val heapMb = ctx.heap.stopMb()
      val runs = passes.result()
      val best = runs.flatten.groupBy(_.name).map { case (q, rs) => q -> rs.map(_.wallS).min }
      val lat = best.values.map(_ * 1000).toSeq
      val passS = runs.map(_.map(_.wallS).sum)
      Outcome(
        endToEnd = Map("p50_ms" -> Stats.median(lat), "p99_ms" -> Stats.quantile(lat, 0.99),
          "rows_per_s" -> passRows / Stats.median(passS)),
        perLayer = Map.empty, attempted = runs.flatten.size, failed = 0, checks = Nil,
        report = Map("query_pass_s" -> Stats.median(passS),
          "query_pass_s.q1" -> Stats.quantile(passS, 0.25),
          "query_pass_s.q3" -> Stats.quantile(passS, 0.75),
          "passes" -> passS.size, "peak_heap_mb" -> heapMb) ++ best.map { case (q, s) => s"$q.s" -> s })
    } else {
      // traced run: a discarded warm pass, one untraced pass, then one
      // traced pass; the ratio of the last two is the tracing overhead
      val untraced = new Tracer(false, ctx.tracer.runId)
      pass(untraced)
      val plain = pass(untraced).map(_.wallS).sum
      val probe = ctx.installSparkProbe()
      val catalyst = new CatalystProbe
      spark.listenerManager.register(catalyst)
      val before = probe.counters
      ctx.heap.start()
      val runs = ctx.tracer.span("workload", "workload") {
        pass(ctx.tracer)
      }
      val heapMb = ctx.heap.stopMb()
      val after = probe.counters
      spark.listenerManager.unregister(catalyst)
      val traced = runs.map(_.wallS).sum
      val perQuery = runs.map { r =>
        val js = probe.jobsIn(r.start, r.end)
        val union = Tracer.covered(r.start, r.end, js)
        (r, js.count(_._1 < r.buildEnd), js.size, (r.end - r.start - union) / 1e9)
      }
      val layer = Map(
        "query.build_s" -> runs.map(_.buildS).sum,
        "query.build_jobs" -> perQuery.map(_._2).sum.toDouble,
        "query.catalyst_ms" -> catalyst.ms.toDouble,
        "query.exec_s" -> runs.map(_.execS).sum,
        "query.jobs" -> perQuery.map(_._3).sum.toDouble,
        "query.driver_gap_s" -> perQuery.map(_._4).sum,
        "trace.overhead_ratio" -> traced / plain, "jvm.peak_heap_mb" -> heapMb) ++
        runs.map(r => s"query.${r.name}.s" -> r.wallS) ++
        ctx.sparkLayer(after - before)
      Outcome(Map.empty, layer, runs.size, 0, Nil, Map("query_pass_s" -> traced))
    }
  }
}
