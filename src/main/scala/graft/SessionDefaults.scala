package graft

import org.apache.spark.sql.SparkSession

/** The engine's measured session posture, as a library helper — the
  * knobs every graft harness (Bench/Verify/TimeQuery/EnsureReplica) ended
  * up setting by hand, with the reasoning attached so a production
  * deployment tunes them BY THE SAME RULES rather than copying
  * numbers:
  *
  *  - `spark.sql.shuffle.partitions` = available cores locally; on a
  *    cluster AQE coalescing makes the static number mostly
  *    irrelevant, but a 200-partition default on a 32-core host
  *    costs 6x the scheduling per exchange for nothing.
  *  - AQE + partition coalescing on: runtime re-planning is how skew
  *    splits and exchange reuse actually land (SCALING.md "Exchange
  *    reuse, verified at runtime").
  *  - `spark.buffer.pageSize` sized so operators' pre-allocated (and
  *    zeroed) page-per-task doesn't dominate small stages: at
  *    local[32] the 64 MB auto page means a 32-task aggregation
  *    commits 2 GB before touching a row (measured: q01's 200-row
  *    final agg spent 2.9s CPU + 1.0s GC zeroing pages). A real
  *    cluster sizes pages per executor-core count the same way.
  *  - Split sizing by DECODED bytes, not compressed: snappy
  *    text/JSON parquet decodes 10-30x, so the default 128 MB
  *    `maxPartitionBytes` carries multi-GB of per-row decode work
  *    per task and serializes small-file corpora entirely (the r8
  *    layout finding, SCALING.md round-8 notes: whole map-heavy
  *    scans ran as ONE task on a 32-core host). The defaults here
  *    suit the bench corpus's file sizes (sub-GB tables in ~MB
  *    files); a 100-TB deployment with 128 MB-row-group files tunes
  *    the same two knobs to ~16-32 MB for text-heavy tables.
  *  - UTC session timezone: the engine's timestamp-ownership
  *    contract (ImportSource.normalizeTimestamps) assumes one
  *    canonical zone end to end.
  *  - Checkpoint files on local disk through
  *    [[graft.streaming.LocalCheckpointFileManager]]: Spark's default
  *    manager launches ~20 `chmod`/`readlink` processes per flush
  *    epoch's offsets + commits writes when Hadoop's native library is
  *    absent (it is, in Spark's distribution). Non-local paths keep
  *    Spark's own choice.
  *
  * `SessionDefaults(builder)` applies them; every knob still yields
  * to an explicit later `.config(...)` on the same builder, and
  * graft's native SQL surface still needs
  * [[graft.functions.GraftSparkExtensions]] (wired separately so a
  * caller can take the tuning without the extension injection).
  */
object SessionDefaults {
  def apply(
      builder: SparkSession.Builder,
      cores: Int = Runtime.getRuntime.availableProcessors(),
      maxPartitionBytes: String = "1m",
      openCostInBytes: String = "64k"): SparkSession.Builder =
    builder
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.buffer.pageSize", "4m")
      .config("spark.sql.files.maxPartitionBytes", maxPartitionBytes)
      .config("spark.sql.files.openCostInBytes", openCostInBytes)
      .config(graft.streaming.LocalCheckpointFileManager.ConfKey,
        classOf[graft.streaming.LocalCheckpointFileManager].getName)
}
