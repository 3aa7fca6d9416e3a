package perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession

/** Per-run context shared by the workloads. */
final class Ctx(val spark: SparkSession, val workload: String, val seed: Long,
    val seconds: Double, val traced: Boolean, val dataDir: String,
    val workDir: String, val breakCheck: Boolean) {
  val tracer = new Tracer(traced, s"$workload-$seed")
  val heap = new HeapProbe
  @volatile var readyAtMs: Long = -1L
  private var sparkProbe: Option[SparkProbe] = None
  private var progressProbe: Option[ProgressProbe] = None

  /** Marks the end of set-up. */
  def ready(): Unit = readyAtMs = System.currentTimeMillis()

  def installSparkProbe(): SparkProbe = sparkProbe.getOrElse {
    val p = new SparkProbe(spark.sparkContext, tracer)
    spark.sparkContext.addSparkListener(p)
    sparkProbe = Some(p)
    p
  }
  def installProgressProbe(): ProgressProbe = progressProbe.getOrElse {
    val p = new ProgressProbe(tracer)
    spark.streams.addListener(p)
    progressProbe = Some(p)
    p
  }

  def sparkLayer(c: SparkCounters): Map[String, Double] = Map(
    "spark.jobs" -> c.jobs.toDouble, "spark.stages" -> c.stages.toDouble,
    "spark.tasks" -> c.tasks.toDouble, "spark.job_wall_s" -> c.jobWallMs / 1e3,
    "spark.task_cpu_s" -> c.taskCpuNs / 1e9, "spark.gc_s" -> c.gcMs / 1e3,
    "spark.shuffle_read_bytes" -> c.shuffleRead.toDouble,
    "spark.shuffle_write_bytes" -> c.shuffleWrite.toDouble,
    "spark.spill_bytes" -> c.spill.toDouble)

  /** Row count from the parquet footers, without a Spark job. */
  def parquetRows(path: String): Long = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sparkContext.hadoopConfiguration
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(path), conf))
    try reader.getRecordCount finally reader.close()
  }
}

/** Runs one workload in this JVM and writes its outcome as JSON.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --work DIR --out FILE --break 0|1
  *
  * `--break 1` perturbs one expected value so the correctness gate
  * is seen to fail.
  */
object Main {
  val Workloads: Map[String, Ctx => Outcome] = Map("cdc" -> Cdc.run, "query_mix" -> QueryMix.run)

  def main(args: Array[String]): Unit = {
    // a failed run must still end the JVM: Spark leaves live threads
    val rc = try { runMain(args); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.exit(rc)
  }

  private def runMain(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val run = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val os = ManagementFactory.getOperatingSystemMXBean
    val loadBefore = os.getSystemLoadAverage
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = graft.SessionDefaults(SparkSession.builder()
        .master(s"local[$cores]").appName(s"perfbench-$workload"), cores = cores)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftSparkExtensions.register(spark)
    val ctx = new Ctx(spark, workload, opt("seed").toLong, opt("seconds").toDouble,
      opt("trace") == "1", opt("data"), opt("work"), opt("break") == "1")
    val out = try run(ctx) finally spark.streams.active.foreach(_.stop())

    // host fingerprint: the floor of one trivial Spark job, untimed
    val floorMs = Stats.median((1 to 5).map { _ =>
      Stats.time(spark.range(1).write.format("noop").mode("overwrite").save())._2 * 1e3
    })
    val host = Map("nproc" -> cores, "loadavg_before" -> loadBefore,
      "loadavg_after" -> os.getSystemLoadAverage, "noop_job_ms" -> floorMs)
    val setupS = (ctx.readyAtMs - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val spans = if (ctx.traced) ctx.tracer.resolved else Nil
    val result = Map(
      "end_to_end" -> out.endToEnd, "per_layer" -> out.perLayer,
      "attempted" -> out.attempted, "failed" -> out.failed,
      "checks" -> out.checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "report" -> out.report, "host" -> host, "jvm_setup_s" -> setupS,
      "self_time" -> selfTable(spans))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(opt("out")), Json(result))
    if (ctx.traced)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"${opt("work")}/spans.json"),
        Json(spans.map(s => Map("id" -> s.id, "name" -> s.name, "layer" -> s.layer,
          "start_ms" -> s.start / 1e6, "end_ms" -> s.end / 1e6, "parent" -> s.parent,
          "run" -> ctx.tracer.runId))))
    spark.stop()
  }

  /** Self time per layer, with the root's share of the timed wall. */
  private def selfTable(spans: Seq[Span]): Seq[Map[String, Any]] = {
    if (spans.isEmpty) return Nil
    val self = Tracer.selfTimes(spans)
    val wall = spans.filter(_.parent == 0).map(_.dur).sum.toDouble
    spans.groupBy(s => s"${s.layer}:${if (s.layer == "query") "query" else s.name}")
      .toSeq.sortBy(_._1).map { case (k, ss) =>
        Map("layer" -> k, "spans" -> ss.size, "total_s" -> ss.map(_.dur).sum / 1e9,
          "self_s" -> ss.map(s => self(s.id)).sum / 1e9,
          "self_share" -> ss.map(s => self(s.id)).sum / wall)
      }
  }
}
