package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Link-graph operators for corpus curation. Web-scale training
  * pipelines score crawl pages by their position in the host/link
  * graph (PageRank-family centrality is the classic crawl-quality
  * prior); the graph here is any (src, dst) edge table.
  *
  * Scale shape: every iteration is one equi-join of the edge table
  * with the (much smaller) rank table plus one aggregation on the
  * destination key — the standard distributed power-method layout.
  * The rank table is node-sized, so at 100 TB of edges it broadcasts
  * or co-partitions; edges are never materialized per-iteration, and
  * nothing is ever collected to the driver.
  */
object GraphOps {

  /** Out-degrees of a (src, dst) edge table — one aggregation. */
  def outDegrees(edges: DataFrame): DataFrame =
    edges.groupBy(col("src")).agg(count(lit(1)).as("out_deg"))

  /** Damped PageRank by fixed-iteration power method.
    *
    * rank₀ = 1/N; rankᵢ₊₁(v) = (1-d)/N + d · Σ_{u→v} rankᵢ(u)/deg(u).
    * Dangling-node mass is not redistributed (their rank leaks, the
    * usual simplification when ranks are used as a relative quality
    * prior rather than a probability distribution).
    *
    * Engine-reproducible arithmetic: ranks are 64-bit integer
    * fixed-point in 1e-12 units ("picoranks") and the damping factor
    * is the rational ⌊100·d⌉/100, so every step — the round-half-up
    * contribution ⌊(2·p·r + q·deg) / (2·q·deg)⌋, the integer sum, the
    * teleport constant — is exact integer arithmetic, bit-identical
    * in any engine and under any partitioning. Floating-point
    * formulations are NOT portable here: rank grids, the 0.85
    * multiplier, and small out-degrees all produce terminating
    * decimal products, so a measurable fraction of contributions sit
    * exactly on .5 rounding boundaries where decimal-string rounding
    * (Spark) and scaled-double rounding (DuckDB et al.) disagree in
    * the last digit. Integer division never has that problem.
    * Iterations chain lazily into ONE plan (k joins deep); for large
    * k the caller should checkpoint every ~10 rounds.
    *
    * @param edges (src, dst) pairs; duplicates are collapsed.
    * @param damping quantized to hundredths (85/100 by default).
    */
  def pageRank(edges: DataFrame, iterations: Int = 3,
      damping: Double = 0.85,
      storage: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER): DataFrame = {
    require(iterations >= 1 && damping > 0 && damping < 1)
    val p = math.round(damping * 100) // damping = p/q exactly
    val q = 100L
    val scale = 1000000000000L // picorank units per unit of rank
    // Loop invariants are materialized once: without the checkpoint the
    // final k-join plan re-derives the edge build (upstream joins +
    // distinct) under every iteration's join, agg, AND the degree/node
    // subplans — ReuseExchange dedups only identical exchanges inside
    // one stage graph, not the work above them (measured on the
    // orders⋈lineitem edge graph at sf0.1: 6.6s -> 2.1s for 3
    // iterations). localCheckpoint also truncates lineage, which is
    // exactly the caller note below about deep iteration chains.
    // `storage` defaults to the SERIALIZED block form: each iteration
    // re-reads the pinned edge table, so at the big decades the
    // checkpoint's footprint competes with the shuffle working set
    // for one host's memory + page cache — deserialized row blocks
    // (localCheckpoint's own default) are several times the
    // serialized size for narrow long pairs. Measured on the r11
    // audit's one above-law row (q149 at 100x, 120M edges,
    // GraphScaleProbe): deserialized runs are BIMODAL 42.9-90.4s
    // (page-cache lottery — the 5.26-vs-linear-3.33 ratio r11
    // flagged was the slow mode), serialized runs read a stable
    // 52.1/52.8/55.1s and the 100x/30x decade ratio drops to 3.06,
    // at-or-below linear; 1x is unchanged (~2.4s warm both ways).
    // Stability under memory pressure is the property a fourth-decade
    // run needs; the ~20% best-case penalty is the price (SCALING
    // round 12).
    // LAZY checkpoints (r16): the ONE `base.count()` job below writes
    // the blocks of both e and base — the duplicateClusters
    // discipline — instead of paying two eager checkpoint jobs AND a
    // count job (three sequential passes where one suffices). Only
    // base's checkpoint is finalized (lineage truncated) by that job:
    // with spark.checkpoint.checkpointAllMarkedAncestors=false (the
    // default) the checkpoint pass stops at the first marked RDD, so
    // e's is finalized by the first later job that computes e — the
    // first iteration below, which reads e's blocks written here.
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .distinct().localCheckpoint(false, storage)
    // node universe + out-degrees in ONE aggregation: each edge
    // contributes 1 under its src and 0 under its dst, so sum(_d) per
    // id is the out-degree (0 for pure sinks) over exactly the
    // sources ∪ sinks universe — row-for-row what the previous
    // spelling (distinct node union ⟕ outDegrees(e)) produced through
    // two aggregations and a join.
    val base = e.select(col("src").as("id"), lit(1L).as("_d"))
      .unionByName(e.select(col("dst").as("id"), lit(0L).as("_d")))
      .groupBy(col("id")).agg(sum(col("_d")).as("out_deg"))
      .localCheckpoint(false, storage)
    val n = base.count()
    def halfUp(num: Long, den: Long): Long = (2 * num + den) / (2 * den)
    val teleport = halfUp((q - p) * scale, q * n)
    var ranks = base.withColumn("rank", lit(halfUp(scale, n)))
    (1 to iterations).foreach { _ =>
      val contribs = e
        .join(ranks.select(col("id").as("src"),
          // round-half-up(p·rank / (q·deg)) in pure integer math;
          // deg-0 nodes divide by zero -> NULL, and never match a src
          expr(s"(2 * $p * rank + $q * out_deg) div (2 * $q * out_deg)")
            .as("_c")), "src")
        .groupBy(col("dst")).agg(sum(col("_c")).as("_in"))
      ranks = base.join(contribs.withColumnRenamed("dst", "id"), Seq("id"), "left")
        .select(col("id"), col("out_deg"),
          (lit(teleport) + coalesce(col("_in"), lit(0L))).as("rank"))
    }
    // exactly-representable integer over exactly-representable 1e12:
    // one IEEE division, identical in every engine
    ranks.select(col("id"),
      (col("rank").cast(DoubleType) / lit(scale.toDouble)).as("rank"))
  }
}
