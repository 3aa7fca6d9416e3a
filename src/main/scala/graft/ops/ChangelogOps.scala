package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.{Envelope, Operation}

/** The relational operator library over changelog envelopes — §2 of
  * SURVEY.md, expressed as declarative DataFrame transforms so
  * Catalyst owns the physical plan.
  */
object ChangelogOps {

  /** THE analytics query of the engine: merge-on-read compaction of an
    * append-only changelog into current table state.
    *
    * `row_number() over (partition by pk order by timestamp desc,
    * lsn desc, sequence desc)` filtered to the first row, excluding
    * DELETEs (reference: pkg/sinks/bigquery/schema_builders.go:146-161,
    * golden SQL pkg/sinks/bigquery/testdata/view.example.sql).
    *
    * The (lsn, sequence) tie-breaks total-order updates within one
    * commit (reference: pkg/subscription/sequence.go:13-17).
    *
    * Scale: this shuffles once on the PK — correct and unavoidable for
    * a global latest-row answer. At 100 TB the raw table is
    * time-partitioned (see WarehouseSink) so readers prune partitions
    * before this window runs; AQE handles skewed keys.
    *
    * @param keyCols payload primary-key columns, e.g. `$"after.id"`.
    */
  def latestRowView(changelog: DataFrame, keyCols: Seq[Column]): DataFrame = {
    requireKey(keyCols, "latestRowView")
    val w = Window.partitionBy(keyCols: _*)
      .orderBy(col(Envelope.TimestampCol).desc, col(Envelope.LsnCol).desc_nulls_last,
        col(Envelope.SequenceCol).desc_nulls_last)
    changelog
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1 && col(Envelope.OperationCol) =!= Operation.Delete)
      .drop("_rn")
  }

  /** Convenience: latest-row view keyed on `after.<pk>` fields and
    * projected back to plain rows (`select payload.*`), like the
    * reference's generated view.
    */
  def latestRows(changelog: DataFrame, primaryKeys: Seq[String]): DataFrame = {
    requireKey(primaryKeys, "latestRows")
    val image = Envelope.afterOrBefore(changelog)
    val keyed = changelog.withColumn("_img", image)
    latestRowView(keyed, primaryKeys.map(k => col(s"_img.$k")))
      .select(col("_img.*"))
  }

  /** Latest rows with unchanged-TOAST merge: like [[latestRows]], but
    * payload cells whose name appears in the row's
    * `unchanged_toast` marker column (see Envelope.UnchangedCol) are
    * filled from the most recent earlier version of the same key —
    * pgoutput omits TOASTed values that an UPDATE didn't touch, so
    * without this merge they would surface as NULL (the reference
    * conflates the two: pkg/subscription/marshal.go:29-40).
    *
    * Plan shape: ONE shuffle on the PK and ONE ascending sort, under
    * one `Window` operator. Each key is projected once as a plain
    * column (`_key<i>`) and every window partitions by those columns:
    * partitioning by the `_img.<pk>` field expression instead makes
    * Catalyst pull it out under a fresh alias per window, which hides
    * the shared partitioning and costs one exchange per window. The
    * carry-forward (`last(_, ignoreNulls)` over a growing frame) and
    * the keep-newest marker (no next row: `lead` is null) share that
    * sort. PlanSpec asserts the single exchange.
    * Genuine NULLs survive because cells are wrapped in a struct
    * before the fill — only marked-unchanged cells are transparent.
    * Falls back to [[latestRows]] when the marker column is absent.
    */
  def latestRowsMerged(changelog: DataFrame, primaryKeys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types.StructType
    requireKey(primaryKeys, "latestRowsMerged")
    if (!changelog.columns.contains(Envelope.UnchangedCol))
      return latestRows(changelog, primaryKeys)
    val keyNames = primaryKeys.indices.map(i => s"_key$i")
    val img = Envelope.afterOrBefore(changelog)
    val keyed = changelog.withColumn("_img", img)
      .withColumns(keyNames.zip(primaryKeys.map(img.getField)).toMap)
    val imgType = keyed.schema("_img").dataType.asInstanceOf[StructType]
    val wAsc = Window.partitionBy(keyNames.map(col): _*)
      .orderBy(col(Envelope.TimestampCol).asc, col(Envelope.LsnCol).asc_nulls_first,
        col(Envelope.SequenceCol).asc_nulls_first)
    val wFill = wAsc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val unchanged = coalesce(col(Envelope.UnchangedCol),
      array().cast("array<string>"))
    val merged = imgType.fields.toIndexedSeq.map { f =>
      val key = primaryKeys.indexOf(f.name)
      if (key >= 0) col(keyNames(key)).as(f.name)
      else {
        // null out marked cells (struct-wrapped so real NULLs stay
        // visible), then carry the last visible cell forward
        val cell = when(array_contains(unchanged, f.name), lit(null))
          .otherwise(struct(col(s"_img.${f.name}").as("v")))
        last(cell, ignoreNulls = true).over(wFill).getField("v").as(f.name)
      }
    }
    keyed
      .select(merged :+ lead(lit(1), 1).over(wAsc).isNull.as("_newest") :+
        col(Envelope.OperationCol): _*)
      .where(col("_newest") && col(Envelope.OperationCol) =!= Operation.Delete)
      .drop("_newest", Envelope.OperationCol)
  }

  /** Without a key, `Window.partitionBy()` is one partition and the
    * dedup would answer a single row for the whole table. */
  private def requireKey(keys: Seq[_], op: String): Unit =
    require(keys.nonEmpty, s"$op needs at least one primary-key column: " +
      "a keyless table has no latest row per key")

  /** Per-transaction sequence numbers: each modification between a
    * Begin/Commit pair gets a monotonically increasing sequence so
    * multiple updates to one row within a transaction are totally
    * ordered (reference: pkg/subscription/sequence.go:24-52).
    *
    * Batch form: row_number over (transaction, arrival order).
    */
  def sequenceWithinTransaction(
      df: DataFrame, txnCol: Column, orderCol: Column): DataFrame =
    df.withColumn(Envelope.SequenceCol,
      row_number().over(Window.partitionBy(txnCol).orderBy(orderCol)).cast("long"))

  /** The ack watermark: fold a batch to (row count, max LSN) —
    * exactly the InsertResult fold the sink framework threads through
    * every inserter (reference: pkg/sinks/generic/inserter.go:42-66,
    * insert_result.go:19-96). Spark's partial aggregation subsumes the
    * promise tree.
    */
  def insertResult(df: DataFrame): DataFrame =
    df.agg(count(lit(1)).as("count"), max(col(Envelope.LsnCol)).as("lsn"))

  /** Set reconciliation: rows of `these` whose key tuple is absent
    * from `those` — the watched∖published / published∖imported
    * anti-join (reference: pkg/changelog/table.go:17-26,
    * pkg/subscription/manager.go:120-145). Spark plans a broadcast
    * anti join when `those` is small — the common case for table
    * lists.
    */
  def reconcileDiff(these: DataFrame, those: DataFrame, keys: Seq[String]): DataFrame =
    these.join(those, keys, "left_anti")

  /** Membership: rows of `these` present in `those` (reference:
    * pkg/changelog/table.go:28-36). */
  def reconcileIncludes(these: DataFrame, those: DataFrame, keys: Seq[String]): DataFrame =
    these.join(those, keys, "left_semi")

  /** Snapshot diff: derive a changelog by comparing two versions of a
    * keyed table — the batch complement of log-based CDC (the
    * reference captures changes from the WAL; this reconstructs them
    * from state when no log exists, the classic "diff last night's
    * snapshot" pipeline). One full-outer join on the key:
    *  - key only in `after`            → INSERT
    *  - key only in `before`           → DELETE
    *  - both, any payload field differs → UPDATE
    *  - identical rows drop out (no-ops are the overwhelming majority
    *    at scale, so the filter keeps the result changes-sized).
    * Output: key columns + `operation` + null-safe `before`/`after`
    * payload structs — the Modification envelope shape (§1.1).
    * Payload comparison is null-safe struct equality (`<=>`).
    */
  def snapshotDiff(before: DataFrame, after: DataFrame,
      keys: Seq[String]): DataFrame = {
    val payloadCols = before.columns.filterNot(keys.contains).toSeq
    require(payloadCols.nonEmpty, "snapshotDiff needs non-key columns")
    require(after.columns.sorted.sameElements(before.columns.sorted),
      "snapshots must share a schema")
    val b = before.select(
      keys.map(col) :+ struct(payloadCols.map(col): _*).as("_b"): _*)
    val a = after.select(
      keys.map(col) :+ struct(payloadCols.map(col): _*).as("_a"): _*)
    b.join(a, keys, "full_outer")
      .withColumn(Envelope.OperationCol,
        when(col("_b").isNull, Operation.Insert)
          .when(col("_a").isNull, Operation.Delete)
          .when(!(col("_b") <=> col("_a")), Operation.Update))
      .where(col(Envelope.OperationCol).isNotNull)
      .select(keys.map(col) :+ col(Envelope.OperationCol) :+
        col("_b").as("before") :+ col("_a").as("after"): _*)
  }

  /** Apply a [[snapshotDiff]] changelog to its base snapshot,
    * reconstructing the target version: DELETE/UPDATE keys leave the
    * base (one anti join against the changes-sized key set — AQE
    * broadcasts it when changes are sparse, the common case), then
    * INSERT/UPDATE `after` images union in. Round-trip law (spec):
    * applyDiff(before, snapshotDiff(before, after)) == after.
    */
  def applyDiff(base: DataFrame, diff: DataFrame,
      keys: Seq[String]): DataFrame = {
    val payloadCols = base.columns.filterNot(keys.contains).toSeq
    val touched = diff.select(keys.map(col): _*)
    val additions = diff
      .where(col(Envelope.OperationCol).isin(Operation.Insert, Operation.Update))
      .select(keys.map(col) ++ payloadCols.map(c => col(s"after.$c").as(c)): _*)
    base.join(touched, keys, "left_anti").unionByName(additions)
  }

  /** Exponential retry backoff, capped:
    * `LEAST(max, base * exp^errorCount)` in seconds
    * (reference: pkg/imports/worker.go:140-161 computes
    * `LEAST('1h', '5s' * 3 ^ error_count)` in SQL).
    */
  def backoffSeconds(errorCount: Column,
      baseSeconds: Double = 5.0, exponent: Double = 3.0,
      maxSeconds: Double = 3600.0): Column =
    least(lit(maxSeconds), lit(baseSeconds) * pow(lit(exponent), errorCount))

  /** Skew-resistant aggregation: salt the hot key space into
    * `saltBuckets` sub-keys, partially aggregate, then merge — the
    * classic two-stage plan for keys whose row counts dwarf a single
    * task (one celebrity user, one boilerplate document). Correct for
    * any algebraic aggregate; exposed here for count+sum, the shapes
    * the engine needs. The salt is derived from stable row content
    * (not rand()) so results are deterministic and retries are safe.
    *
    * At 100 TB: AQE's skew handling covers joins, but a single
    * pathological GROUP BY key still funnels to one reducer — this
    * is the explicit escape hatch.
    */
  def saltedAgg(df: DataFrame, key: Column, value: Column,
      saltBuckets: Int): DataFrame = {
    val salted = df.groupBy(key.as("_key"),
        pmod(hash(value), lit(saltBuckets)).as("_salt"))
      .agg(count(lit(1)).as("_n"), sum(value).as("_sum"))
    salted.groupBy(col("_key"))
      .agg(sum(col("_n")).as("n"), sum(col("_sum")).as("total"))
      .withColumnRenamed("_key", "key")
  }

  /** Skew-resistant fact-to-dimension join: the fact side gets a
    * content-derived salt, the dimension side is replicated across
    * all salt values, and the join runs on (key, salt) — so one hot
    * key spreads over `saltBuckets` tasks instead of funnelling into
    * one. Use when a dimension is too large to broadcast AND the
    * fact's key distribution is pathological beyond what AQE's
    * runtime skew splitting handles (e.g. a single null-like key
    * holding half the table). Result is identical to the plain join.
    */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String,
      saltBuckets: Int): DataFrame = {
    // pmod, not abs(...)%n: hash can return Int.MinValue, whose abs is
    // still negative — that salt would match no replicated dimension
    // row and silently drop the fact row. The salt rides the row id,
    // not a hash of the whole row: any spread works (the join is
    // correct for every salt assignment), so don't pay per-row hashing
    // of wide rows.
    val saltedFact = fact.withColumn("_salt",
      pmod(monotonically_increasing_id(), lit(saltBuckets.toLong)).cast("int"))
    val replicatedDim = dim.withColumn("_salt",
      explode(sequence(lit(0), lit(saltBuckets - 1))))
    saltedFact.join(replicatedDim, Seq(key, "_salt")).drop("_salt")
  }

  /** [[saltedJoin]] with the salt factor SIZED TO THE OBSERVED SKEW
    * instead of a constant: a cheap sampled frequency probe measures
    * max/mean key multiplicity; uniform keys degrade to the plain
    * un-salted join (replicating the dimension would be pure
    * overhead), pathological keys get up to `maxBuckets` replicas.
    * Result equals the plain join in every case.
    */
  def skewAwareSaltedJoin(fact: DataFrame, dim: DataFrame, key: String,
      maxBuckets: Int = 32, sampleFraction: Double = 0.001): DataFrame = {
    val probe = fact.select(col(key)).sample(sampleFraction, seed = 7L)
      .groupBy(col(key)).agg(count(lit(1)).as("c"))
      .agg(max(col("c")).as("mx"), avg(col("c")).as("av")).head()
    // deadband at 4x: sampled max/mean sits near 2 even for uniform
    // keys (small-count noise), and AQE's runtime skew split already
    // absorbs mild imbalance — salt only when a key is pathological
    val ratio =
      if (probe.isNullAt(0)) 1.0 // empty sample: nothing to size against
      else probe.getLong(0) / math.max(1.0, probe.getDouble(1))
    if (ratio < 4.0) fact.join(dim, Seq(key))
    else saltedJoin(fact, dim, key,
      math.min(maxBuckets, math.round(ratio).toInt))
  }

  /** Event sessionization: assign a session index per key using the
    * classic gap rule — a new session starts when the time since the
    * previous event exceeds `gapSeconds`. One shuffle on the key, two
    * stacked window passes (lag + running sum), no state store needed
    * in batch; the streaming twin is `session_window`.
    */
  def sessionize(df: DataFrame, keyCol: Column, tsCol: Column,
      gapSeconds: Long): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(tsCol)
    // via TIMESTAMP: a direct NTZ→DOUBLE cast is illegal in Spark 4
    val ep = tsCol.cast("timestamp").cast("double")
    val gap = ep - lag(ep, 1).over(w)
    df.withColumn("_new_session",
        when(gap.isNull || gap > gapSeconds, 1L).otherwise(0L))
      .withColumn("session_id",
        sum(col("_new_session")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("_new_session")
  }

  /** Incremental BATCH sessionization — the daily-delta form of the
    * gap rule, for pipelines that close sessions once a day instead
    * of holding a streaming state store: fold TODAY's events into
    * yesterday's carried-over OPEN sessions, emit every session the
    * gap rule (or the day boundary) closes, and hand the still-open
    * tail to tomorrow. The law this must satisfy (spec-enforced, the
    * same one the streaming sessionizer carries): processing a corpus
    * in ANY day-split yields exactly the sessions of one whole-corpus
    * [[sessionize]] pass, with the final opens flushed at the end.
    *
    * State is [[graft.streaming.StatefulSessions.OpenSession]]-shaped
    * — one (key, startUs, lastUs, n, sum) row per ACTIVE key, a
    * bounded table that replaces the streaming state store. One
    * union + one keyed window per day; `closeBeforeUs` (typically
    * today's cutoff minus the gap) decides which tail sessions are
    * CLOSED by time rather than carried.
    *
    * Returns (closed, open): closed = (key, startUs, endUs, n_events,
    * sum_value); open = same shape, to persist for tomorrow.
    */
  def sessionizeIncremental(prevOpen: DataFrame, events: DataFrame,
      keyCol: String, tsCol: String, valCol: String, gapSeconds: Long,
      closeBeforeUs: Long): (DataFrame, DataFrame) = {
    val gapUs = gapSeconds * 1000000L
    // carried opens re-enter as pseudo-events holding their fold so
    // far; the window fold below then treats them like any run prefix
    val carried = prevOpen.select(col(keyCol).as("k"),
      col("startUs").as("su"), col("lastUs").as("ts_us"),
      col("n_events").as("n0"), col("sum_value").as("v0"))
    val todays = events.select(col(keyCol).as("k"),
      unix_micros(col(tsCol).cast("timestamp")).as("ts_us"),
      col(valCol).cast("double").as("v"))
    val unioned = carried
      .select(col("k"), col("ts_us"), col("su"), col("n0"), col("v0"),
        lit(null).cast("double").as("v"))
      .unionByName(todays.select(col("k"), col("ts_us"),
        lit(null).cast("long").as("su"), lit(null).cast("long").as("n0"),
        lit(null).cast("double").as("v0"), col("v")))
    val w = Window.partitionBy(col("k"))
      // carried rows sort BEFORE a real event at the same instant
      .orderBy(col("ts_us"), col("su").isNull.cast("int"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withSess = unioned
      .withColumn("_gap", col("ts_us") - lag(col("ts_us"), 1).over(w))
      .withColumn("_new", when(col("_gap").isNull ||
        col("_gap") > gapUs, 1L).otherwise(0L))
      .withColumn("_sid", sum(col("_new")).over(run))
    val sessions = withSess.groupBy(col("k"), col("_sid"))
      .agg(
        // a carried row contributes its ORIGINAL start
        min(coalesce(col("su"), col("ts_us"))).as("startUs"),
        max(col("ts_us")).as("lastUs"),
        sum(coalesce(col("n0"), lit(1L))).as("n_events"),
        // decimal-exact: order-independent across partitions AND
        // engine-identical when a carried sum re-enters tomorrow's fold
        sum(coalesce(col("v0"), col("v"), lit(0.0))
          .cast(org.apache.spark.sql.types.DecimalType(28, 12)))
          .cast("double").as("sum_value"))
    val shaped = sessions.select(col("k").as(keyCol), col("startUs"),
      col("lastUs").as("endUs"), col("n_events"), col("sum_value"))
    val closed = shaped.where(col("endUs") + gapUs < closeBeforeUs)
    val open = shaped.where(col("endUs") + gapUs >= closeBeforeUs)
      .withColumnRenamed("endUs", "lastUs")
    (closed, open)
  }

  /** Interval-union coverage per key (gaps-and-islands): each event
    * opens an interval [ts, ts + durationSeconds); overlapping or
    * touching intervals merge into islands; the output is one row per
    * key with the island count and the total covered microseconds —
    * "how much wall-clock was this user active, counting overlaps
    * once".
    *
    * Island detection is the running-max-of-end trick: an interval
    * starts a new island iff its start exceeds the max end over ALL
    * previous intervals (a plain `lag` is wrong when an early long
    * interval swallows several later short ones). Two stacked window
    * passes over one (key, ts) sort + one aggregation; coverage sums
    * in integer microseconds — exact, order-independent.
    */
  def intervalCoverage(df: DataFrame, keyCol: Column, tsCol: Column,
      durationSeconds: Long): DataFrame = {
    val startUs = unix_micros(tsCol.cast("timestamp"))
    val endUs = startUs + durationSeconds * 1000000L
    val w = Window.partitionBy(keyCol).orderBy(startUs)
    val prevMaxEnd = max(endUs).over(
      w.rowsBetween(Window.unboundedPreceding, -1))
    val withIsland = df
      .withColumn("_new_island",
        when(prevMaxEnd.isNull || startUs > prevMaxEnd, 1L).otherwise(0L))
      .withColumn("_island",
        sum(col("_new_island")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    withIsland
      .groupBy(keyCol.as("key"), col("_island"))
      .agg(min(startUs).as("_s"), max(endUs).as("_e"))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n_islands"),
        sum(col("_e") - col("_s")).as("covered_us"))
  }

  /** Rolling per-key statistics over an ordered event column — the
    * feature-engineering shape (per-user activity rates, drift
    * monitors). Row window: the previous `rows` events including the
    * current one. Time window: everything within `rangeSeconds`
    * before the current event (inclusive), via `rangeBetween` over
    * the epoch-seconds ordering so the frame is value-based, not
    * row-based. Both windows share one shuffle on the key and one
    * sort — Catalyst stacks window functions over the same
    * (partition, order) spec into a single Window operator.
    */
  def rollingStats(df: DataFrame, keyCol: Column, tsCol: Column,
      valueCol: Column, rows: Int, rangeSeconds: Long): DataFrame = {
    // integer microsecond ordering: rangeBetween needs long-typed
    // bounds matching the order expression, and µs keeps the full
    // timestamp precision (epoch-double would round)
    val epoch = unix_micros(tsCol.cast("timestamp"))
    val rowW = Window.partitionBy(keyCol).orderBy(epoch)
      .rowsBetween(-(rows - 1).toLong, Window.currentRow)
    val rangeW = Window.partitionBy(keyCol).orderBy(epoch)
      .rangeBetween(-rangeSeconds * 1000000L, Window.currentRow)
    df.withColumn("rolling_avg", avg(valueCol).over(rowW))
      .withColumn("rolling_sum_range", sum(valueCol).over(rangeW))
      .withColumn("rolling_n_range", count(valueCol).over(rangeW))
  }

  /** SCD Type-2 history: every version of every key as a validity
    * interval. `valid_from` is the version's commit timestamp,
    * `valid_to` the next version's (NULL while current), `is_current`
    * marks the open interval. A DELETE closes the previous version's
    * interval but emits no row itself — the key simply has no current
    * version afterwards.
    *
    * This is the warehouse-side "full history" twin of
    * [[latestRowView]] (which keeps only the closing edge): the
    * reference's append-only raw tables retain exactly the data
    * needed for it (pkg/sinks/bigquery/schema_builders.go:146-161
    * keeps the raw table precisely so views like this stay
    * derivable).
    *
    * Scale: one shuffle on the PK, one ascending sort shared by the
    * `lead` and the row filter. At 100 TB the raw table's `_date`
    * partitioning bounds the window input exactly as for the latest
    * view.
    */
  def scdHistory(changelog: DataFrame, keyCols: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keyCols: _*)
      .orderBy(col(Envelope.TimestampCol).asc, col(Envelope.LsnCol).asc_nulls_first,
        col(Envelope.SequenceCol).asc_nulls_first)
    changelog
      .withColumn("valid_from", col(Envelope.TimestampCol))
      .withColumn("valid_to", lead(col(Envelope.TimestampCol), 1).over(w))
      .where(col(Envelope.OperationCol) =!= Operation.Delete)
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** Per-row state deltas for incremental view maintenance: for each
    * changelog row, how much the key's live value and live row-count
    * changed. Summing the deltas of any key's history telescopes to
    * its final state, so `deltas.groupBy(g).agg(sum)` maintains a
    * grouped aggregate WITHOUT recomputing over the latest-row view —
    * the incremental-view-maintenance identity.
    *
    * `live` is the value while the key exists and 0 after a DELETE;
    * deltas are computed against the previous version via `lag`.
    * Values go through DECIMAL so delta sums are exact (float deltas
    * would not telescope bit-for-bit).
    *
    * Scale: the window shuffle here exists only because this batch
    * fixture must reconstruct before-images; on the wire the
    * reference ships the old tuple alongside the new (REPLICA
    * IDENTITY FULL, pkg/subscription/marshal.go:15-44), so each row's
    * delta is computable row-locally and the maintained aggregate is
    * ONE map-side-combinable shuffle on the group key — no per-key
    * window at all. That is the 100 TB story: aggregate maintenance
    * cost proportional to the delta stream, not the table.
    */
  def stateDeltas(changelog: DataFrame, keyCols: Seq[Column],
      valueCol: Column): DataFrame = {
    val w = Window.partitionBy(keyCols: _*)
      .orderBy(col(Envelope.TimestampCol).asc, col(Envelope.LsnCol).asc_nulls_first,
        col(Envelope.SequenceCol).asc_nulls_first)
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    // NULL values coalesce to 0 on the row AND inside the lag (below),
    // so a NULL never poisons `delta_value` — sum(deltas) must equal
    // the latest state even when a version carries a NULL value.
    val live = when(col(Envelope.OperationCol) === Operation.Delete,
      lit(0).cast(dec)).otherwise(coalesce(valueCol.cast(dec), lit(0).cast(dec)))
    val alive = when(col(Envelope.OperationCol) === Operation.Delete, 0L).otherwise(1L)
    changelog
      .withColumn("delta_value", live - coalesce(lag(live, 1).over(w), lit(0).cast(dec)))
      .withColumn("delta_alive", alive - coalesce(lag(alive, 1).over(w), lit(0L)))
  }

  /** LSN-continuity check: find gaps in a dense sequence column —
    * the "did we lose frames?" audit over an append-only changelog.
    *
    * A global `lag` would need a single-partition window; instead the
    * sequence is bucketed by `floor(seq / bucket)`: in-bucket gaps
    * come from a per-bucket `lag`, and cross-bucket gaps from
    * comparing each bucket's min against the previous non-empty
    * bucket's max (a second windowed pass over the per-bucket
    * aggregate, which has seq/bucket rows — negligible). Both passes
    * are fully parallel; nothing is collected to the driver.
    *
    * Returns one row per gap: (gap_after, gap_before, missing).
    */
  def gapDetect(df: DataFrame, seqCol: Column, bucket: Long = 100000L): DataFrame = {
    val b = floor(seqCol / bucket)
    val inBucket = Window.partitionBy(b).orderBy(seqCol)
    val inner = df
      .withColumn("_prev", lag(seqCol, 1).over(inBucket))
      .where(col("_prev").isNotNull && seqCol - col("_prev") > 1)
      .select(col("_prev").as("gap_after"), seqCol.as("gap_before"))
    val byBucket = df.groupBy(b.as("_b"))
      .agg(min(seqCol).as("_min"), max(seqCol).as("_max"))
    // bucket-boundary gaps: adjacency over the (data/bucket-sized)
    // bucket table via two-phase globalRank + a rank-shift self-join —
    // an unpartitioned lag window here would funnel every bucket row
    // through one partition
    val (rankedB, _) = StatsOps.globalRank(byBucket, "_r", col("_b"))
    val prevB = rankedB.select((col("_r") + 1).as("_r"),
      col("_max").as("_prev_max"))
    val boundary = rankedB.join(prevB, Seq("_r"))
      .where(col("_min") - col("_prev_max") > 1)
      .select(col("_prev_max").as("gap_after"), col("_min").as("gap_before"))
    inner.unionByName(boundary)
      .withColumn("missing", col("gap_before") - col("gap_after") - 1)
  }

  /** Import-job eligibility: not completed, not expired, and past the
    * backoff deadline (reference: pkg/imports/worker.go:174-184).
    */
  def jobEligible(completedAt: Column, expiredAt: Column,
      errorCount: Column, lastErrorAt: Column, now: Column,
      baseSeconds: Double = 5.0, exponent: Double = 3.0,
      maxSeconds: Double = 3600.0): Column =
    completedAt.isNull && expiredAt.isNull &&
      (errorCount < 1 ||
        epochSeconds(now) > epochSeconds(lastErrorAt) +
          backoffSeconds(errorCount, baseSeconds, exponent, maxSeconds))

  /** Epoch seconds as double; goes via TIMESTAMP because Spark 4
    * refuses a direct TIMESTAMP_NTZ→DOUBLE cast (session TZ is UTC,
    * so NTZ wall-clock == UTC instant). */
  private def epochSeconds(ts: Column): Column =
    ts.cast("timestamp").cast("double")

  /** Regular-grid resampling with forward fill — irregular per-key
    * observations onto a fixed `stepSeconds` grid, each grid instant
    * carrying the LAST observation at or before it (LOCF). The
    * feature-engineering shape for event streams: models want aligned
    * time series, events arrive whenever they arrive.
    *
    * The grid generates per key from its own [min, max] span
    * (`sequence` — no cross join against a global calendar, so a
    * short-lived key costs its own span only), aligned UP to the next
    * step multiple so grid instants are comparable across keys and
    * every grid row has an observation at or before it; the fill is
    * the existing [[TemporalJoins.asOfJoin]] on epoch seconds — one
    * union + one keyed window, no per-grid-point probe. Every grid
    * row has a value by construction (the first grid instant is >=
    * the key's first observation).
    */
  def resampleFfill(df: DataFrame, keyCol: String, tsCol: String,
      valCol: String, stepSeconds: Long): DataFrame = {
    // simultaneous observations collapse to their max BEFORE the fill:
    // "the last observation" must be deterministic, and an as-of tie
    // would otherwise resolve differently per engine/partitioning
    val obs = df.select(col(keyCol).as("k"),
        unix_micros(col(tsCol).cast("timestamp")).as("tsu"),
        col(valCol).as("v"))
      .groupBy(col("k"), col("tsu")).agg(max(col("v")).as("v"))
    val stepUs = stepSeconds * 1000000L
    val gridStart = ceil(col("lo").cast("double") / stepUs).cast("long") * stepUs
    val grid = obs.groupBy(col("k"))
      .agg(min(col("tsu")).as("lo"), max(col("tsu")).as("hi"))
      // a key whose whole span falls between two grid instants has no
      // grid rows (sequence would reject start > stop)
      .where(gridStart <= col("hi"))
      .select(col("k"), explode(sequence(gridStart, col("hi"), lit(stepUs)))
        .as("grid_us"))
    TemporalJoins.asOfJoin(grid, obs, "k", "k", "grid_us", "tsu", Seq("v"))
      .select(col("k").as(keyCol), col("grid_us"), col("v").as(valCol))
  }
}
