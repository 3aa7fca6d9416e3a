package graft

import org.apache.spark.sql.SparkSession

/** Dev utility: time individual SparkEntry queries without the full
  * bench sweep. `sbt "runMain graft.TimeQuery q28_near_dups [sfDir]"`.
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val names = args.filter(_.startsWith("q"))
    val sfDir = args.find(a => !a.startsWith("q"))
      .getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SessionDefaults(SparkSession.builder()
        .master(s"local[$cpus]"), cores = cpus.toInt)
      .config("spark.ui.enabled", "false")
    // SPARK_GRAFT_CONF="k=v,k=v" — ad-hoc config experiments
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(",").foreach { kv =>
      val Array(k, v) = kv.split("=", 2); builder.config(k, v)
    })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // production posture: graft SQL functions + optimizer rules active
    graft.functions.GraftSparkExtensions.register(spark)
    // per-run job count and summed job wall — the scheduling-floor
    // arithmetic for multi-action queries (trainers): n sequential
    // jobs cannot beat n × the per-job floor however tight each plan
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val jobWallMs = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          starts.put(j.jobId, j.time)
        override def onJobEnd(
            j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
          Option(starts.remove(j.jobId)).foreach { s =>
            jobs.incrementAndGet(); jobWallMs.addAndGet(j.time - s)
          }
      })
    spark.read.parquet(s"$sfDir/nation.parquet").count() // warmup
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      if (sys.env.contains("SPARK_GRAFT_EXPLAIN"))
        fn(spark, sfDir).explain("formatted")
      // the static plan above hides AQE's runtime decisions (stage
      // reuse, skew splits, coalesce) — print the FINAL adaptive plan
      // after an execution when asked
      if (sys.env.contains("SPARK_GRAFT_EXPLAIN_FINAL")) {
        val df = fn(spark, sfDir)
        df.collect()
        df.explain("formatted")
      }
      (1 to 5).foreach { i =>
        // listener events post asynchronously: a short pause lets the
        // previous action's job ends land before the snapshot
        Thread.sleep(50)
        val (jobs0, wallMs0) = (jobs.get, jobWallMs.get)
        val t0 = System.nanoTime()
        // the bench's protocol: execute the FULL plan through the noop
        // sink (count() lets the optimizer prune aggregate values and
        // the final sort — readings here must be comparable to
        // BENCH_DETAIL)
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        val wall = (System.nanoTime() - t0) / 1e9
        // same hygiene as Bench: drop cached plans / checkpoint
        // blocks so runs don't contaminate each other
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
        System.gc()
        Thread.sleep(200)
        println(f"$name run$i: $wall%.2fs jobs=${jobs.get - jobs0} " +
          f"job_wall=${(jobWallMs.get - wallMs0) / 1e3}%.2fs")
      }
    }
    spark.stop()
  }
}
