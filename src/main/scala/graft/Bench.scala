package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints one JSON line for the driver.
  *
  * The driver captures only the LAST ~2000 chars of output
  * (BENCH_r01/r02 both show a truncated, unparseable tail), so the
  * stdout line carries the total plus a fixed headline subset, and
  * the full per-query map — including EVERY raw run, not just the
  * min — goes to BENCH_DETAIL.json next to the build instead of
  * stdout.
  *
  * Measurement protocol (ONE shape, [[Bench.Protocol]], spec'd by
  * BenchProtocolSpec): per query, a cold run (codegen + planning),
  * then warm runs until (a) the per-level minimum count is met AND
  * (b) the two smallest warm readings agree within
  * `agreeRatio`/`agreeAbsSec` — or `maxWarm` runs are spent. The
  * reading is the min; ALL raw runs ship in the detail file so a
  * disagreeing pair of sweeps can show WHY (the r8 shipped sweep
  * read q17 at 30x as 16.5× where the committed run read 2.5× on
  * identical code, and a min-only artifact could not distinguish
  * host contention from growth). Host-load fingerprints
  * (/proc/loadavg + the noop floor before and after) bound how much
  * of a drift is machine weather.
  */
object Bench {
  /** Representative subset kept small enough that the one-line JSON
    * survives a 2000-char tail capture: the flagship aggregate /
    * window / join shapes plus every historically slow query. */
  private val headline = Seq(
    "q01_agg", "q04_latest_row", "q28_near_dups", "q31_tumbling_window",
    "q35_ship_priority", "q44_jaccard_dedup", "q47_dedup_clusters",
    "q53_local_supplier_volume", "q60_zscore", "q63_tfidf", "q64_bm25",
    "q69_bloom_join", "q109_market_share", "q114_important_parts",
    "q125_boilerplate", "q134_asof_native")

  /** The 30x heavy-tail sweep list — the 10x tail plus every family
    * the r7 audit watched (pair-emitting dedup, iterative graph,
    * rollup/multi-distinct expansions, the decorrelated scalar
    * subquery, the √n ANN trio) plus the floor-denominated
    * top-10x-ratio rows. ONE definition: [[main]] asserts every name
    * resolves in SparkEntry.queries before sweeping — a renamed query
    * fails the bench loudly instead of silently vanishing from the
    * evidence.
    */
  val heavy30: Seq[String] = Seq(
    "q17_json_extract", "q23_langid", "q28_near_dups",
    "q44_jaccard_dedup", "q47_dedup_clusters", "q55_rollup",
    "q74_scalar_subquery", "q84_multi_distinct", "q128_clean_corpus",
    "q135_unpivot", "q141_semdedup", "q149_pagerank", "q154_kmeans",
    "q170_curation_pipeline", "q171_knn_join", "q173_contrastive_pairs",
    "q174_kn_bigram", "q183_kmv_algebra",
    "q181_jl_project", "q34_embedding_neardups", "q25_minhash",
    "q158_covariance", "q188_two_level_dedup",
    // r14: the self-scaling SRP row rides the decade sweep beside its
    // fixed-plane sibling — q199 adjudicates against ~linear
    // (planes = ⌈log₂ n⌉ ⇒ pairs ≤ n), q34 against its declared
    // n²/2^planes quadratic
    "q199_neardups_selfscaling",
    // r15: the banded-Hamming family's first standing decade rows
    // (fixed 4-band vs count-derived width — the q34/q199 pairing
    // replayed for the 64-bit Hamming family) and the re-spelled
    // two-phase token-budget cut, whose straggler fix is a decade
    // claim and should be re-measured every sweep
    "q201_banded_hamming", "q202_banded_hamming_auto",
    "q164_token_budget")

  /** Measurement-protocol constants. The protocol string shipped in
    * the JSON is DERIVED from these (see [[protocolName]]), so the
    * artifact cannot claim a protocol the code no longer runs. */
  object Protocol {
    /** Warm runs at 1× before stabilization applies: heavy queries'
      * generated code takes ~3 invocations to reach C2 steady state
      * (q61 isolated: 1.75 → 0.95 → 0.48), and every 1× reading is a
      * 10x-ratio DENOMINATOR (the r7 sweep published 25× and 70× off
      * a 0.39s-vs-1.0s denominator swing). */
    val minWarm1x = 3
    /** Warm runs at 10x/30x before stabilization applies — scale rows
      * read trends, and their cold run already absorbed codegen. */
    val minWarmScale = 2
    /** Hard cap on warm runs per query per level. */
    val maxWarm = 5
    /** Two smallest warm runs must satisfy w2 <= w1*agreeRatio +
      * agreeAbsSec or another run is spent: 20% is the VERDICT-r8
      * reproducibility bar, the absolute term keeps floor-bound
      * ~0.1s readings from re-running forever over scheduler ms. */
    val agreeRatio = 1.2
    val agreeAbsSec = 0.05

    /** The stabilization rule as a pure function of the warm-run
      * history (cold excluded), so the spec can pin the protocol the
      * JSON string claims: another warm run is needed while the
      * successful count is under `minWarm` OR the two smallest
      * successes disagree beyond tolerance — never past `maxWarm`,
      * and never after a failed/timed-out run (retrying a broken or
      * watchdogged plan would fail identically and double the cost).
      */
    def needsAnotherWarm(warms: Seq[Double], minWarm: Int): Boolean = {
      if (warms.size >= maxWarm || warms.exists(_ < 0)) return false
      val ok = warms.sorted
      ok.size < minWarm ||
        (ok.size >= 2 && ok(1) > ok(0) * agreeRatio + agreeAbsSec)
    }

    /** Did a finished query's warm history CONVERGE — two successful
      * warm runs whose two smallest agree within tolerance? False
      * when `maxWarm` was exhausted still disagreeing (the q17-class
      * rows), so unconverged readings are machine-visible in the
      * artifact (`unstable` lists) instead of needing a reader to
      * re-derive stabilization failure from the raw runs arrays. */
    def converged(warms: Seq[Double]): Boolean = {
      val ok = warms.filter(_ >= 0).sorted
      ok.size >= 2 && ok(1) <= ok(0) * agreeRatio + agreeAbsSec
    }

    /** The factor by which a cold run must undercut the CONVERGED
      * warm minimum before the artifact flags the row: warm
      * stabilization can "converge" on a slow JIT mode while the cold
      * run saw the fast one (r10's q17 at 30x: cold 1.35s, warm
      * 5.55/6.28s — isolated re-times read 1.1–1.6s, proving the
      * cold run was the truth). Below 2× the warm min still ships
      * unflagged (plans legitimately warm up). */
    val coldUndercutFactor = 2.0

    /** Does this run history (cold first) exhibit the cold-undercut
      * anomaly — a successful cold run more than [[coldUndercutFactor]]
      * faster than the CONVERGED warm minimum? Such rows ship the
      * cold reading (see [[Bench.stabilized]]: reading = min over ALL
      * successful runs) and are listed per level in `cold_undercut`,
      * so the discrepancy is data in the artifact, not prose. */
    def coldUndercut(runs: Seq[Double]): Boolean = {
      if (runs.isEmpty || runs.head < 0) return false
      val warms = runs.drop(1).filter(_ >= 0)
      warms.nonEmpty && converged(runs.drop(1)) &&
        warms.min > runs.head * coldUndercutFactor
    }

    /** 30x rows more than 10% above LINEAR growth (30x/10x > 3.3)
      * re-time after the sweep drains: the r10 audit's two
      * above-linear rows (q183 3.52, q17 10.19) both re-timed
      * sub-linear in isolation, with the explanation trapped in
      * prose — the post-sweep re-time puts it in the artifact
      * (`retime_30x`; shipped ratio = best of sweep and re-time,
      * raw sweep ratios beside it). */
    val retimeBar30x = 3.3

    /** Which 30x rows earn a post-sweep re-time — pure, so the spec
      * pins the selection the artifact claims. */
    def retimeCandidates(ratios: Seq[(String, Double)]): Seq[String] =
      ratios.filter(_._2 > retimeBar30x).map(_._1)
  }

  /** Protocol marker: r4 switched from count()-based timing (which
    * let the optimizer prune aggregate values and final sorts) to
    * full-plan noop-sink execution — totals are NOT comparable to
    * r1-r3; r9 unified every level onto stabilized min-of-N (warm
    * readings must agree before they ship). r11 added two tokens so
    * cross-round comparisons are machine-distinguishable:
    * `floorMinWarm` (the scheduling floor is cold + min-of-two-warm,
    * not last-of-3 — overhead_floor/total_minus_floor are not
    * comparable to rounds without the token) and `coldMin` (readings
    * are the min over ALL successful runs INCLUDING cold, with
    * >2×-undercut rows flagged in `cold_undercut` — warm
    * stabilization alone can converge on a slow JIT mode, r10's q17
    * at 30x). r12 appended `paired` to the retime token: retime
    * ratios now divide a drained-context 30x numerator by a
    * drained-context re-timed 10x denominator (`retime_10x` in the
    * detail), not by the sweep's 10x row — a sweep-inflated
    * denominator can no longer understate growth. r14 added
    * `retimeUnstable1x`: 1x rows that exhausted maxWarm without
    * converging re-time once on the drained post-sweep host; the
    * official reading is min(sweep, retime), the retime history
    * appends to the row's runs, and `unstable` clears only if the
    * best two runs overall agree — `queries`/`n_unstable` are not
    * comparable to rounds without the token when retime_1x is
    * present. */
  def protocolName: String =
    s"noop-full-plan,min${Protocol.minWarm1x}warm," +
      s"stabilize${math.round((Protocol.agreeRatio - 1) * 100)}pct," +
      s"floorMinWarm,coldMin,retime${Protocol.retimeBar30x}paired," +
      s"retimeUnstable1x"

  private def loadavg(): String =
    try {
      val s = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg"))).trim
      s.split(" ").take(3).mkString(",")
    } catch { case scala.util.control.NonFatal(_) => "" }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // SessionDefaults carries the measured posture — page sizing,
    // AQE, and the split-by-DECODED-bytes rule whose absence made
    // whole map-heavy scans run as one task (see its scaladoc and
    // SCALING.md round-8 notes)
    val spark = SessionDefaults(SparkSession.builder()
        .master(s"local[$cpus]")
        .appName("graft-bench"), cores = cpus.toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // production posture: graft SQL functions + optimizer rules active
    graft.functions.GraftSparkExtensions.register(spark)

    // a typo'd or renamed heavy-tail entry must fail the bench, not
    // silently shrink the 30x evidence (ADVICE r8)
    heavy30.foreach(n => require(SparkEntry.queries.contains(n),
      s"Bench.heavy30 lists '$n' but SparkEntry.queries does not define it"))

    // session/codegen warmup on a small scan + shuffle
    spark.read.parquet(s"$sfDir/nation.parquet").groupBy("n_regionkey").count().count()

    def time(fn: => Unit): Double = {
      val t0 = System.nanoTime(); fn; (System.nanoTime() - t0) / 1e9
    }
    // Execute via the noop datasource: the full plan runs (scan →
    // transforms → final sort) in ONE job with a zero-cost sink.
    // `df.count()` instead APPENDS a two-stage global aggregation
    // (partial + exchange + final) to every query — pure harness
    // overhead that at 187 queries dominates the total.
    def run(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()
    def hygiene(): Unit = {
      spark.catalog.clearCache()
      // localCheckpoint blocks are freed by their owners with
      // blocking=false — the asynchronous removal otherwise lands in
      // the NEXT query's timed window (q47's cleanup was billed to
      // q48, 1.1s -> 4.6s in sweep context). Finish the removals
      // synchronously between queries.
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      System.gc()
      // the gc enqueues ContextCleaner work (broadcast/shuffle/RDD
      // removals) that the cleaner thread processes ASYNCHRONOUSLY —
      // without a settle pause it competes with the next timed window
      // (q48 billed 2-3s of q47's cleanup even with the blocking
      // unpersist above). ~200ms drains it; untimed, so it costs
      // sweep wall-clock only.
      Thread.sleep(200)
    }

    // Per-run watchdog for the scale sweeps: a query whose plan
    // degrades super-linearly must not hang the sweep — cancel its
    // job group at the limit and record the -2.0 timeout sentinel
    // (distinct from -1.0 failure) so the regression is DATA in the
    // ratio table, not a driver-killed round.
    def bounded(name: String, limitSec: Int)(fn: => Unit): Double = {
      val group = s"scale-$name"
      val deadline = System.currentTimeMillis + limitSec * 1000L
      @volatile var finished = false
      @volatile var cancelled = false
      spark.sparkContext.setJobGroup(group, name, interruptOnCancel = true)
      val watchdog = new Thread(() => {
        while (!finished && System.currentTimeMillis < deadline)
          Thread.sleep(100)
        if (!finished) { cancelled = true
          spark.sparkContext.cancelJobGroup(group) }
      })
      watchdog.setDaemon(true)
      watchdog.start()
      // NonFatal only (an OOMed driver must fail the sweep, not
      // file a sentinel row); timeout is classified by WHETHER THE
      // WATCHDOG FIRED, not by comparing wall clock to the deadline
      // — a fast genuine error surfacing after the deadline is a
      // failure (-1.0), not a timeout (-2.0)
      try { val t = time(fn); finished = true; t }
      catch { case scala.util.control.NonFatal(_) =>
        finished = true
        if (cancelled) -2.0 else -1.0
      } finally spark.sparkContext.clearJobGroup()
    }

    /** Cold + stabilized warm runs. Returns (reading, all raw runs,
      * cold first). Reading = min over ALL successful runs — cold
      * INCLUDED (the `coldMin` protocol token): warm runs normally
      * undercut cold (codegen amortized), but warm stabilization can
      * "converge" on a slow JIT mode the cold run escaped (r10's q17
      * at 30x: cold 1.35s vs converged-warm 5.55s, isolated re-times
      * 1.1–1.6s — the cold run was the truth, and min-of-warm shipped
      * a 4× overread). Rows where cold undercuts converged warm by
      * >2× are additionally flagged (`cold_undercut`). A failed COLD
      * run short-circuits (the plan is broken — warm retries would
      * fail identically) and ships its sentinel. A cold SUCCESS whose
      * warm runs then failed ships the cold reading — a completed
      * measurement beats a sentinel — and lands in `unstable`
      * (converged() is false on a failed history), so the row is
      * flagged, not silently green.
      */
    def stabilized(minWarm: Int, once: () => Double): (Double, Seq[Double]) = {
      val runs = scala.collection.mutable.ArrayBuffer[Double]()
      runs += once() // cold
      while (runs.head >= 0 &&
          Protocol.needsAnotherWarm(runs.drop(1).toSeq, minWarm)) {
        // drop the previous run's cache/checkpoint blocks BEFORE
        // timing the next (outside the timed section): queries that
        // legitimately persist intermediate state (iterative
        // clustering) otherwise measure the prior run's garbage
        hygiene()
        runs += once()
      }
      val ok = runs.filter(_ >= 0)
      val reading =
        if (ok.nonEmpty) ok.min
        else runs.find(_ < 0).getOrElse(runs.head)
      (reading, runs.toSeq)
    }

    // Per-query scheduler-job counter (the trainer-floor arithmetic,
    // promoted from SCALING prose into the artifact): a listener
    // counts job starts; `sweep` snapshots the delta around each
    // query's COLD run. Listener events post asynchronously, so each
    // snapshot waits a short drain pause — job counts are floor-model
    // inputs (reading_floor ≈ n_jobs × per-job cost), not timings.
    val jobCounter = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobCounter.incrementAndGet()
      })
    def countedJobs(fn: () => Double): (Double, Int) = {
      Thread.sleep(50)
      val j0 = jobCounter.get()
      val t = fn()
      Thread.sleep(50)
      (t, jobCounter.get() - j0)
    }
    val jobsOf = scala.collection.mutable.Map[String, Int]()

    /** One sweep level: every (name, fn) against `dir`, stabilized,
      * hygiene between queries (without it the 187-query sweep
      * accumulates blocks and later queries GC-thrash 10-30x —
      * BENCH_r02: q47 120s in sweep vs 2s isolated). With
      * `recordJobs`, the cold run's scheduler-job count lands in
      * `jobsOf` (the floor-model field of the official 1x rows). */
    def sweep(names: Seq[String], dir: String, minWarm: Int,
        limitSec: Option[Int], recordJobs: Boolean = false)
        : Seq[(String, Double, Seq[Double])] =
      names.map { name =>
        val fn = SparkEntry.queries(name)
        val once: () => Double = limitSec match {
          case Some(l) => () => bounded(name, l)(run(fn(spark, dir)))
          case None => () =>
            try time(run(fn(spark, dir)))
            catch { case scala.util.control.NonFatal(_) => -1.0 }
        }
        val onceMaybeCounted: () => Double =
          if (!recordJobs) once
          else {
            var first = true
            () =>
              if (!first) once()
              else {
                val (t, jobs) = countedJobs(once)
                jobsOf(name) = jobs
                first = false
                t
              }
          }
        val (v, raw) = stabilized(minWarm, onceMaybeCounted)
        hygiene()
        (name, v, raw)
      }

    def fmt(v: Double): String = f"$v%.3f"
    def jsonOf(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    def jsonRuns(rs: Seq[(String, Double, Seq[Double])]): String =
      rs.map { case (k, _, raw) =>
        "\"" + k + "\":" + raw.map(fmt).mkString("[", ",", "]")
      }.mkString("{", ",", "}")

    // Per-query scheduling floor: a no-op query (tiny range + one
    // shuffle) through the same cold/warm protocol. Multiplied by
    // n_queries this bounds the pure harness overhead in the total —
    // lets round-over-round comparisons separate engine cost from
    // Spark's fixed per-query cost at this scale. Measured BEFORE
    // and AFTER the sweeps: the pair is the host-weather fingerprint
    // (the r8 shipped-vs-committed disagreement moved the floor
    // 0.109 → 0.125 and the artifact couldn't show it).
    // (floor method token: `floorMinWarm` in the protocol string —
    // r10 changed this from last-of-3 to cold + min-of-two-warm, and
    // overhead_floor/total_minus_floor are not comparable to rounds
    // whose protocol string lacks the token.)
    var noopJobs = 1
    def measureFloor(): Double = {
      def noop(): Unit = run(spark.range(1024)
        .groupBy((org.apache.spark.sql.functions.col("id") % 8).as("k"))
        .count())
      // cold + min-of-warm, matching the query sweeps' protocol (a
      // last-run-only floor was noisier than the readings it divides)
      val (_, jn) = countedJobs(() => time(noop()))
      if (jn > 0) noopJobs = jn
      math.min(time(noop()), time(noop()))
    }
    val loadStart = loadavg()
    val floorStart = measureFloor()

    // Per-LEVEL host fingerprint (loadavg + a re-measured noop floor
    // taken immediately before each sweep level): every cross-round
    // perf dispute so far (r10's q145 drift, q149's 10x wobble, the
    // r11 +7% band) resolved via loadavg archaeology quoted in
    // SCALING prose — this puts the sweep-context evidence in the
    // artifact itself, so a level whose readings drifted can be read
    // against the load the host was under WHEN that level ran.
    val levelHost = scala.collection.mutable.ArrayBuffer[(String, String, Double)]()
    def levelFingerprint(level: String): Unit =
      levelHost += ((level, loadavg(), measureFloor()))

    val allNames = SparkEntry.queries.keys.toSeq.sorted
    // r16 PROTOCOL FIX (the r15 rc=124 post-mortem): the 10x/30x
    // replica builds + full decade sweeps + paired retimes are
    // BUILDER-SIDE evidence gathering (~45-90 min wall under load) —
    // the driver's contract is the stabilized 1x sweep + the one JSON
    // line. Round 15's driver invocations were timeout-killed at BOTH
    // core counts (BENCH_r15/BENCH_r15_c8: rc 124, no parseable line,
    // so the round shipped NO bench artifact at all) with the decade
    // levels still running. Decades are now OPT-IN
    // (SPARK_GRAFT_SCALE10=1 runs both the 10x and the 30x level);
    // the 1x protocol, readings and JSON shape are unchanged, so
    // totals stay round-over-round comparable.
    val scale10 = {
      val v = sys.env.getOrElse("SPARK_GRAFT_SCALE10", "0")
      require(v == "0" || v == "1",
        s"SPARK_GRAFT_SCALE10 must be unset, 0 or 1 (got '$v')")
      v == "1"
    }

    // ---- official 1x sweep: the ORIGINAL testdata layout — the
    // protocol input every earlier round used and the one the DuckDB
    // oracle times against, so totals stay round-over-round and
    // engine-vs-oracle comparable. Per-run watchdog (second half of
    // the rc=124 fix): a 1x run that somehow hangs — the worst healthy
    // row reads ~4s, so 600s is pure backstop — cancels and ships the
    // -2.0 sentinel as DATA instead of letting the driver's timeout
    // kill the whole artifact.
    levelFingerprint("1x")
    val results1Sweep = sweep(allNames, sfDir, Protocol.minWarm1x, Some(600),
      recordJobs = true)
    // ratio denominators keep the SWEEP reading (layout-consistent
    // 32-file denominators are preferred anyway); the unstable-1x
    // retime below only patches the official 1x readings
    val byName1 = results1Sweep.map(r => r._1 -> r._2).toMap

    // ---- layout-consistent 1x denominators: the SAME rows against a
    // 32-file rewrite of the 1x input (Scale10x factor=1 — identical
    // bytes, scan-parallel layout). The original sf0.1 tables are
    // single-file/single-row-group — unsplittable below a row group —
    // so map-heavy queries there measure a SERIALIZED scan and can
    // read FASTER at 10x than at 1x (r8: q160 3.67s@1x vs 2.04s@10x,
    // a ratio of 0.41 that muddies the growth table in both
    // directions). Every 10x/1x ratio below uses THESE denominators;
    // both 1x readings ship.
    val results1L: Seq[(String, Double, Seq[Double])] =
      if (!scale10) Seq.empty
      else {
        val oneDir = Scale10x.ensure(spark, sfDir, 1)
        hygiene()
        levelFingerprint("1x_32file")
        sweep(allNames, oneDir, Protocol.minWarm1x, None)
      }
    val byName1L = results1L.map(r => r._1 -> r._2).toMap

    // ---- 10x scale sweep: the same query surface against a replica
    // with 10x the rows AND 10x the key cardinality (Scale10x shifts
    // keys per replica). The sf0.1 sweep is floor-dominated
    // (~0.1s/query scheduling cost), so per-query 1x→10x ratios are
    // the scale evidence the totals can't provide: a shuffle-bound
    // plan reads ~linear, a quadratic or driver-bound one jumps out.
    // OPT-IN with SPARK_GRAFT_SCALE10=1 (builder evidence runs; the
    // r16 protocol fix — see the scale10 declaration above).
    val results10: Seq[(String, Double, Seq[Double])] =
      if (!scale10) Seq.empty
      else {
        val bigDir = Scale10x.ensure(spark, sfDir)
        hygiene()
        levelFingerprint("10x")
        sweep(allNames, bigDir, Protocol.minWarmScale, Some(150))
      }
    val denom1: Map[String, Double] =
      if (byName1L.nonEmpty) byName1L else byName1
    val ratios10: Seq[(String, Double)] = results10.flatMap { case (n, t10, _) =>
      denom1.get(n) match {
        case Some(t1) if t1 > 0 && t10 > 0 => Some(n -> t10 / t1)
        case _ => None
      }
    }

    // ---- 30x heavy-tail sweep: one more decade for the heaviest
    // queries. 10x catches quadratics; 30x catches the log-factors
    // and memory cliffs that hide under 10x's constants. Ratios are
    // read AGAINST THE 10x ROW (linear ⇒ ~3x; the √n blockers' n^1.5
    // law ⇒ ~5.2x): several 1x rows are floor-bound, so a 30x/1x
    // ratio would measure floors, not growth.
    // Runs only when the 10x level ran (SPARK_GRAFT_SCALE10=1).
    val results30: Seq[(String, Double, Seq[Double])] =
      if (results10.isEmpty) Seq.empty
      else {
        val bigDir = Scale10x.ensure(spark, sfDir, 30)
        hygiene()
        levelFingerprint("30x")
        sweep(heavy30, bigDir, Protocol.minWarmScale, Some(300))
      }
    val byName10 = results10.map(r => r._1 -> r._2).toMap
    val ratios30raw: Seq[(String, Double)] = results30.flatMap {
      case (n, t30, _) => byName10.get(n) match {
        case Some(t10) if t10 > 0 && t30 > 0 => Some(n -> t30 / t10)
        case _ => None
      }
    }

    // ---- post-sweep re-time of anomalous 30x rows: any reading more
    // than 10% above linear growth (ratio_vs10 > 3.3) gets a fresh
    // stabilized pass after the sweep has fully drained — the r10
    // audit found two such rows (q183 3.52, q17 10.19) whose isolated
    // re-times both read sub-linear, with the explanation living only
    // in SCALING prose. The re-time makes the artifact self-contained:
    // a row whose retime clears the bar was sweep-context (GC /
    // cleaner backlog / JIT-mode pollution from 187 other generated
    // classes); a row whose retime CONFIRMS the reading is real
    // growth and stays the shipped ratio. Final ratios take the best
    // (min) of sweep and retime per row; both raw tables ship.
    val retimeNames = Protocol.retimeCandidates(ratios30raw)
    val retimed30: Seq[(String, Double, Seq[Double])] =
      if (retimeNames.isEmpty) Seq.empty
      else {
        val bigDir = Scale10x.ensure(spark, sfDir, 30)
        hygiene()
        Thread.sleep(1000) // let the cleaner fully drain post-sweep
        levelFingerprint("retime_30x")
        sweep(retimeNames, bigDir, Protocol.minWarmScale, Some(300))
      }
    // Re-time the 10x DENOMINATOR for the same rows: a retime ratio
    // pairing a drained-context 30x numerator with a sweep-context
    // 10x denominator UNDERSTATES growth whenever the sweep inflated
    // the 10x reading too (the pre-round ADVICE asymmetry). Both
    // sides of the retime ratio now come from drained post-sweep
    // context; the sweep ratio keeps its own internally-consistent
    // pair, and the shipped ratio is the best (min) of the two.
    val retimed10: Seq[(String, Double, Seq[Double])] =
      if (retimeNames.isEmpty) Seq.empty
      else {
        val tenDir = Scale10x.ensure(spark, sfDir)
        hygiene()
        levelFingerprint("retime_10x")
        sweep(retimeNames, tenDir, Protocol.minWarmScale, Some(150))
      }
    val retimeOf = retimed30.map(r => r._1 -> r._2).toMap
    val retime10Of = retimed10.map(r => r._1 -> r._2).toMap
    val ratios30: Seq[(String, Double)] = ratios30raw.map { case (n, r) =>
      val denom = retime10Of.get(n).filter(_ > 0).orElse(byName10.get(n))
      (denom, retimeOf.get(n)) match {
        case (Some(t10), Some(tr)) if tr > 0 && t10 > 0 =>
          n -> math.min(r, tr / t10)
        case _ => n -> r
      }
    }

    // ---- post-sweep re-time of UNSTABLE 1x rows (VERDICT r13 ask
    // #3): a row whose warm history exhausted maxWarm still
    // disagreeing is usually sweep context — co-running load, GC /
    // cleaner backlog, JIT-mode pollution from 200 other generated
    // classes — not the plan (r13 shipped n_unstable=8 under loadavg
    // ~20 and bench_delta.py attributed the round's drift to host
    // context). Each such row gets ONE drained stabilized pass after
    // every level has run; the shipped reading is the RETIME when it
    // converges (the retime exists to supply drained context, not an
    // extra draw at the minimum — an unconditional min(sweep, retime)
    // gave only unstable rows a selection bias that always lowered
    // totals, ADVICE r14) and falls back to the sweep reading when
    // the retime is just as scattered. The retime's runs APPEND to
    // the row's history, so the `unstable` flag clears only when the
    // best two runs overall agree — a scattered retime stays flagged
    // instead of being laundered.
    val unstable1Names = results1Sweep.collect {
      case (n, v, raw) if v >= 0 && !Protocol.converged(raw.drop(1)) => n
    }
    val retimed1: Seq[(String, Double, Seq[Double])] =
      if (unstable1Names.isEmpty) Seq.empty
      else {
        hygiene()
        Thread.sleep(1000) // let the cleaner fully drain post-sweep
        levelFingerprint("retime_1x")
        sweep(unstable1Names, sfDir, Protocol.minWarm1x, Some(600))
      }
    val retime1Of = retimed1.map(r => r._1 -> (r._2, r._3)).toMap
    val results: Seq[(String, Double, Seq[Double])] =
      results1Sweep.map { case (n, v, raw) =>
        retime1Of.get(n) match {
          case Some((rv, rraw)) if rv >= 0 && v >= 0 =>
            val shipped = if (Protocol.converged(rraw.drop(1))) rv else v
            (n, shipped, raw ++ rraw)
          case _ => (n, v, raw)
        }
      }
    val total = results.map(_._2).filter(_ >= 0).sum
    val nFailed = results.count(_._2 < 0)
    val nRan = results.size - nFailed

    val floorEnd = measureFloor()
    val loadEnd = loadavg()
    val floor = math.min(floorStart, floorEnd)
    // Host-weather-normalized total: raw totals drift round to round
    // with the machine's per-query scheduling floor (r6→r7 read +10s
    // on UNTOUCHED queries while the floor itself moved) — subtracting
    // n·floor reads engine cost, not host weather. Both numbers ship.
    val totalMinusFloor = math.max(0.0, total - nRan * floor)
    // per-level load context beside the global start/end pair: the
    // fingerprint taken immediately before each sweep level ran
    val levelHostJson = levelHost.map { case (lvl, load, f) =>
      "\"" + lvl + "\":{\"loadavg\":\"" + load + "\",\"floor\":" + fmt(f) + "}"
    }.mkString("{", ",", "}")
    val hostJson =
      s""""host":{"loadavg_start":"$loadStart","loadavg_end":"$loadEnd",""" +
        s""""floor_start":${fmt(floorStart)},"floor_end":${fmt(floorEnd)},""" +
        s""""levels":$levelHostJson}"""

    def pair(rs: Seq[(String, Double, Seq[Double])]): Seq[(String, Double)] =
      rs.map(r => r._1 -> r._2)

    // Queries whose warm history exhausted maxWarm still disagreeing:
    // their min still ships as the reading, but the non-convergence
    // is machine-visible here instead of latent in the runs arrays.
    def unstableOf(rs: Seq[(String, Double, Seq[Double])]): Seq[String] =
      rs.collect {
        case (n, v, raw) if v >= 0 && !Protocol.converged(raw.drop(1)) => n
      }
    val unstableJson: String = Seq(
      "1x" -> unstableOf(results), "1x_32file" -> unstableOf(results1L),
      "10x" -> unstableOf(results10), "30x" -> unstableOf(results30))
      .map { case (lvl, ns) =>
        "\"" + lvl + "\":" + ns.map("\"" + _ + "\"").mkString("[", ",", "]")
      }.mkString("{", ",", "}")
    val nUnstable = Seq(results, results1L, results10, results30)
      .map(unstableOf(_).size).sum

    // Rows whose cold run undercut the CONVERGED warm minimum by >2×
    // (the q17-class JIT-lottery signature): the shipped reading is
    // already the cold one (`coldMin` protocol token) — these lists
    // mark where that rule CHANGED the reading, so a reader can see
    // which rows' warm history converged on a slow mode.
    def undercutOf(rs: Seq[(String, Double, Seq[Double])]): Seq[String] =
      rs.collect { case (n, v, raw) if v >= 0 && Protocol.coldUndercut(raw) => n }
    val undercutJson: String = Seq(
      "1x" -> undercutOf(results), "1x_32file" -> undercutOf(results1L),
      "10x" -> undercutOf(results10), "30x" -> undercutOf(results30))
      .map { case (lvl, ns) =>
        "\"" + lvl + "\":" + ns.map("\"" + _ + "\"").mkString("[", ",", "]")
      }.mkString("{", ",", "}")
    val nUndercut = Seq(results, results1L, results10, results30)
      .map(undercutOf(_).size).sum

    // Compact scale summaries for the stdout line (the full tables
    // would blow the driver's ~2000-char tail capture); the complete
    // per-query timings, raw runs and ratios go to BENCH_DETAIL.json.
    val scaleSummary: String = if (results10.isEmpty) "" else {
      val rs = ratios10.map(_._2).sorted
      def pct(p: Double): Double =
        if (rs.isEmpty) 0.0 else rs(math.min(rs.size - 1, (p * rs.size).toInt))
      val total10 = results10.map(_._2).filter(_ >= 0).sum
      val worst = ratios10.sortBy(-_._2).take(3)
        .map { case (n, r) => "\"" + n + "\":" + fmt(r) }.mkString("{", ",", "}")
      s""","scale10x":{"total":${fmt(total10)},""" +
        s""""n_timeout":${results10.count(_._2 == -2.0)},""" +
        s""""n_failed":${results10.count(_._2 == -1.0)},""" +
        s""""ratio_p50":${fmt(pct(0.50))},"ratio_p90":${fmt(pct(0.90))},""" +
        s""""ratio_max":${fmt(pct(1.0))},"worst":$worst}"""
    }
    val scale30Summary: String = if (results30.isEmpty) "" else {
      val rs = ratios30.map(_._2).sorted
      def pct(p: Double): Double =
        if (rs.isEmpty) 0.0 else rs(math.min(rs.size - 1, (p * rs.size).toInt))
      val worst = ratios30.sortBy(-_._2).take(3)
        .map { case (n, r) => "\"" + n + "\":" + fmt(r) }.mkString("{", ",", "}")
      s""","scale30x":{"n":${results30.size},""" +
        s""""n_timeout":${results30.count(_._2 == -2.0)},""" +
        s""""n_failed":${results30.count(_._2 == -1.0)},""" +
        s""""ratio_vs10_p50":${fmt(pct(0.50))},""" +
        s""""ratio_vs10_max":${fmt(pct(1.0))},"worst":$worst}"""
    }
    val total1L = results1L.map(_._2).filter(_ >= 0).sum
    val layoutSummary: String =
      if (results1L.isEmpty) ""
      else s""","total_1x_32file":${fmt(total1L)}"""

    // Scheduling-floor model (the trainer-floor closure's arithmetic,
    // machine-readable): the noop floor measures `noopJobs` scheduler
    // jobs, so one job costs ~floor/noopJobs on this host, and a
    // query running J sequential jobs cannot read below ~J×that
    // whatever its plans do. Rows with reading ≲ 2× their floor bound
    // are scheduling-floor-bound at this SF, not plan-bound — their
    // scale evidence is the 10x/30x ratio, not the 1x reading.
    val floorPerJob = floor / math.max(1, noopJobs)
    val jobsJson = jobsOf.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

    // full detail to a file (driver tail capture would truncate it)
    val detail = s"""{"metric":"total","value":${fmt(total)},"unit":"sec",""" +
      s""""n_queries":${results.size},"n_ran":$nRan,"n_failed":$nFailed,""" +
      s""""overhead_floor":${fmt(floor)},""" +
      s""""total_minus_floor":${fmt(totalMinusFloor)},""" +
      s""""protocol":"$protocolName",$hostJson,""" +
      s""""n_unstable":$nUnstable,"unstable":$unstableJson,""" +
      s""""n_cold_undercut":$nUndercut,"cold_undercut":$undercutJson,""" +
      s""""floor_per_job":${fmt(floorPerJob)},"noop_jobs":$noopJobs,""" +
      s""""floor_model":"reading_floor_sec ~ n_jobs * floor_per_job; """ +
      s"""1x rows with reading < ~2x that bound are scheduling-floor-""" +
      s"""bound, not plan-bound — read their 10x/30x ratios instead",""" +
      s""""jobs_1x":$jobsJson,""" +
      s""""queries":${jsonOf(pair(results))},""" +
      s""""runs":${jsonRuns(results)}""" +
      (if (retimed1.isEmpty) ""
       else s""","retime_1x":${jsonOf(pair(retimed1))}""" +
         s""","retime_1x_runs":${jsonRuns(retimed1)}""") +
      (if (results1L.isEmpty) ""
       else s""","queries_1x_32file":${jsonOf(pair(results1L))}""" +
         s""","runs_1x_32file":${jsonRuns(results1L)}""" +
         s""","total_1x_32file":${fmt(total1L)}""") +
      (if (results10.isEmpty) ""
       else s""","queries_10x":${jsonOf(pair(results10))}""" +
         s""","runs_10x":${jsonRuns(results10)}""" +
         // denominator marker: since r9 the 10x ratios divide by the
         // layout-consistent 32-file factor-1 rewrite (when present),
         // NOT the official single-file 1x sweep — cross-round tools
         // must not compare r8's ratios_10x to these unflagged.
         // The fallback token names the PRE-RETIME sweep map actually
         // used (byName1), which diverges from the retime-patched
         // "queries" rows for unstable rows (ADVICE r14)
         s""","ratios_10x_denom":"${
           if (byName1L.nonEmpty) "queries_1x_32file" else "queries_1x_sweep"}"""" +
         s""","ratios_10x":${jsonOf(ratios10)}""") +
      (if (results30.isEmpty) ""
       else s""","queries_30x":${jsonOf(pair(results30))}""" +
         s""","runs_30x":${jsonRuns(results30)}""" +
         // ratios_30x_vs_10x take the BEST of sweep and post-sweep
         // retime per row (retime rows + raw ratios ship beside it):
         // a >3.3-ratio row that re-times sub-linear was sweep
         // context, and the artifact now shows that itself
         s""","ratios_30x_vs_10x":${jsonOf(ratios30)}""" +
         s""","ratios_30x_vs_10x_sweep":${jsonOf(ratios30raw)}""" +
         (if (retimed30.isEmpty) ""
          else s""","retime_30x":${jsonOf(pair(retimed30))}""" +
            s""","retime_30x_runs":${jsonRuns(retimed30)}""" +
            // the paired drained-context 10x denominators (retimePaired
            // protocol token): retime ratios divide retime_30x by
            // THESE, not by the sweep's queries_10x rows
            s""","retime_10x":${jsonOf(pair(retimed10))}""" +
            s""","retime_10x_runs":${jsonRuns(retimed10)}""")) +
      s""","sf":"$sfDir"}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_DETAIL.json"), detail + "\n")
    val byName = results.map(r => r._1 -> r._2).toMap
    val head = headline.flatMap(n => byName.get(n).map(n -> _))
    // Stop Spark BEFORE printing the summary: the driver keeps only
    // the last ~2000 chars of combined output, so any shutdown-path
    // log line landing after the JSON would evict it from the tail.
    spark.sparkContext.setLogLevel("ERROR")
    spark.stop()
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec",""" +
      s""""n_queries":${results.size},"n_ran":$nRan,"n_failed":$nFailed,""" +
      s""""overhead_floor":${fmt(floor)},""" +
      s""""total_minus_floor":${fmt(totalMinusFloor)},""" +
      s""""n_unstable":$nUnstable,"n_cold_undercut":$nUndercut,""" +
      s""""protocol":"$protocolName","detail":"BENCH_DETAIL.json"""" +
      layoutSummary + scaleSummary + scale30Summary +
      s""","queries":${jsonOf(head)},"sf":"$sfDir"}""")
  }
}
