package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.{Envelope, TableSchema}
import graft.ops.ChangelogOps

/** The warehouse sink: append-only raw changelog tables + a
  * query-time "latest row" deduplication view — the reference's
  * BigQuery sink re-expressed as partitioned parquet
  * (reference: pkg/sinks/bigquery/sink.go:40-79,
  * schema_handler.go:56-100, schema_builders.go:88-161).
  *
  * Physical layout, designed for 100 TB:
  * - raw table `root/raw/<ns>.<name>/` partitioned by `_date =
  *   date(timestamp)` — the reference time-partitions its raw table
  *   for retention + time travel (schema_builders.go:103-106); here
  *   it also gives readers partition pruning.
  * - rows sorted within partitions by primary key — the reference
  *   clusters by PK (schema_builders.go:99-102); here it gives
  *   parquet min/max row-group pruning on PK lookups.
  * - writes are append-only; replays are harmless because the view
  *   dedups by (pk, timestamp, lsn, sequence) — at-least-once
  *   delivery + merge-on-read, the reference's exact design.
  */
final class WarehouseSink(spark: SparkSession, root: String) extends Sink {
  private val handler = new SchemaHandler(_ => ())

  def rawPath(table: TableSchema): String =
    s"$root/raw/${table.ref.qualified}"

  override def handleSchema(schema: TableSchema): SchemaOutcome =
    handler.handle(schema)

  override def insert(table: TableSchema, batch: DataFrame): InsertResult = {
    val result = InsertResult.of(batch.cache())
    write(table, batch)
    batch.unpersist()
    result
  }

  /** One job per flush epoch: the caller's fold is trusted, so the
    * batch streams straight into the append with no cache and no
    * count/max pre-pass. A caller that ships one partition (the
    * streaming pipeline does) gets one task and one parquet file per
    * `_date` partition. */
  override def insertCounted(table: TableSchema, batch: DataFrame,
      known: InsertResult): InsertResult = {
    write(table, batch)
    known
  }

  private def write(table: TableSchema, batch: DataFrame): Unit = {
    val pks = table.primaryKeys
    val image = coalesce(col(Envelope.AfterCol), col(Envelope.BeforeCol))
    val sortCols = pks.map(k => col(s"_pk_$k"))
    batch
      .withColumn("_date", to_date(col(Envelope.TimestampCol)))
      // materialised pk columns give parquet row-group min/max stats
      .withColumns(pks.map(k => s"_pk_$k" -> image.getField(k)).toMap)
      .sortWithinPartitions(col("_date") +: sortCols: _*)
      .write.mode("append")
      .partitionBy("_date")
      .parquet(rawPath(table))
  }

  /** Read the raw changelog back (schema evolution via mergeSchema —
    * the add-columns-only policy of the reference's blind update,
    * pkg/sinks/bigquery/schema_handler.go:82-100). */
  def raw(table: TableSchema): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(rawPath(table))

  // ---- truncate markers: latest-state filters, history untouched ----

  private def truncatePath(table: TableSchema) =
    s"$root/truncates/${table.ref.qualified}"

  /** Record a TRUNCATE position. The raw table is untouched — the
    * marker is a tiny append-only parquet table of changelog
    * positions; every latest-state reader filters rows at or before
    * the newest applicable marker. (The pgoutput 'T' message the
    * reference leaves undecoded — pkg/logical/decoder.go errors on
    * it; see PgOutput.Truncate.) */
  override def truncate(table: TableSchema, at: java.sql.Timestamp,
      lsn: Option[Long], sequence: Option[Long]): Unit = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("timestamp", TimestampType, nullable = false),
      StructField("lsn", LongType, nullable = true),
      StructField("sequence", LongType, nullable = true)))
    spark.createDataFrame(
        java.util.List.of(Row(at, lsn.map(Long.box).orNull,
          sequence.map(Long.box).orNull)), schema)
      .write.mode("append").parquet(truncatePath(table))
  }

  /** Newest truncate position, optionally bounded above by `upTo`
    * (time travel) and below by `past` (compaction watermark: markers
    * already folded into the baseline must not re-apply). Positions
    * order by (timestamp, lsn, sequence) like the dedup window; the
    * collect is marker-count-sized. */
  private def truncateMarker(table: TableSchema,
      upTo: Option[java.sql.Timestamp] = None,
      past: Option[(Long, java.sql.Timestamp)] = None)
      : Option[(java.sql.Timestamp, Long, Long)] = {
    val p = new org.apache.hadoop.fs.Path(truncatePath(table))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    var df = spark.read.parquet(truncatePath(table))
    upTo.foreach(ts => df = df.where(col("timestamp") <= lit(ts)))
    past.foreach { case (wmLsn, wmTs) =>
      df = df.where(col("timestamp") > lit(wmTs) ||
        coalesce(col("lsn"), lit(-1L)) > wmLsn)
    }
    df.orderBy(col("timestamp").desc, col("lsn").desc_nulls_last,
        col("sequence").desc_nulls_last)
      .limit(1).collect().headOption.map { r =>
        (r.getTimestamp(0),
          if (r.isNullAt(1)) -1L else r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))
      }
  }

  /** Envelope rows strictly after the truncate position. Null lsn /
    * sequence (imports) rank as +infinity within their timestamp —
    * an import at the truncate's own timestamp is a fresh snapshot,
    * not truncated content. */
  private def afterTruncate(df: DataFrame,
      marker: Option[(java.sql.Timestamp, Long, Long)]): DataFrame =
    marker match {
      case None => df
      case Some((mTs, mLsn, mSeq)) =>
        val rowPos = struct(col(Envelope.TimestampCol),
          coalesce(col(Envelope.LsnCol), lit(Long.MaxValue)),
          coalesce(col(Envelope.SequenceCol), lit(Long.MaxValue)))
        df.where(rowPos > struct(lit(mTs), lit(mLsn), lit(mSeq)))
    }

  /** The latest-row view over the raw table
    * (reference: pkg/sinks/bigquery/schema_builders.go:146-161).
    * Unchanged-TOAST cells merge from the previous image when the
    * marker column is present (ChangelogOps.latestRowsMerged).
    * Compaction-aware: with a baseline it reads baseline + tail
    * (equivalence to the full window is spec-verified), which is also
    * what keeps this view CORRECT after [[vacuum]] drops raw
    * partitions the baseline already covers; without one it windows
    * the full history. */
  def latestView(table: TableSchema): DataFrame =
    latestViewCompacted(table)

  /** Register both as SQL-queryable views, like the reference's
    * `CREATE VIEW <name>` DDL. */
  def registerViews(table: TableSchema): Unit = {
    raw(table).createOrReplaceTempView(s"${table.name}_raw")
    latestView(table).createOrReplaceTempView(table.name)
  }

  /** The latest-row view as SQL TEXT — the DDL form the reference
    * pins as golden files (pkg/sinks/bigquery/testdata/
    * view.example.sql / view.dogs.sql, checked by
    * schema_builders_test.go). [[latestView]] stays the executable,
    * compaction/truncate/TOAST-aware form; this emits the plain
    * CREATE VIEW over the registered `<name>_raw` view — the
    * reference's view is exactly this simple shape — so DDL drift
    * shows up as a golden-file diff, not a runtime surprise. The
    * column list is explicit and name-sorted (payloadStruct order)
    * and the dedup ordering spells out the engine's full tiebreak
    * (timestamp, lsn, sequence — imports carry null lsn/sequence and
    * must lose to any stream row at the same instant, hence NULLS
    * LAST): deterministic text, byte-level pinnable. */
  def latestViewDdl(table: TableSchema): String =
    WarehouseSink.latestViewDdl(table)

  /** Time travel: table state as of an instant — the reason the
    * reference time-partitions its raw table ("drop old data …
    * time-travelling", schema_builders.go:103-106). The `_date`
    * partition filter prunes before the window runs.
    */
  def asOf(table: TableSchema, ts: java.sql.Timestamp): DataFrame =
    if (!vacuumed(table))
      // full history intact: window the raw rows at or before ts
      ChangelogOps.latestRowsMerged(
        afterTruncate(
          raw(table)
            .where(col("_date") <= to_date(lit(ts)) &&
              col(Envelope.TimestampCol) <= lit(ts)),
          truncateMarker(table, upTo = Some(ts))),
        table.primaryKeys)
    else {
      // vacuumed history: states before the compaction watermark are
      // not reconstructible (a key's last pre-ts row may be in a
      // dropped partition, and the baseline holds NEWER state). Fail
      // loudly — deleted data must never look like an answer — and
      // serve at-or-past-watermark instants from baseline + tail.
      val (wmLsn, wmTs) = compactionWatermark(table).get
      require(!ts.before(wmTs),
        s"asOf($ts) predates the compaction watermark $wmTs of a " +
          s"vacuumed table (horizon ${retentionHorizon(table)}): that " +
          "history was dropped by retention")
      compactedStateRead(table, wmLsn, wmTs, Some(ts))
    }

  private def vacuumed(table: TableSchema): Boolean =
    retentionHorizon(table) != java.sql.Date.valueOf("1970-01-01")

  // ---- compaction: bound the window's read amplification ----

  private def compactedPath(table: TableSchema) =
    s"$root/compacted/${table.ref.qualified}"
  private def watermarkPath(table: TableSchema) =
    s"$root/compacted/${table.ref.qualified}.watermark"

  /** Fold the current latest-row state into a compacted baseline and
    * record the LSN watermark it covers. The raw table stays
    * append-only and untouched (replay/audit/time-travel intact);
    * readers via [[latestView]] scan baseline + tail instead of full
    * history. Run periodically — the streaming analogue of
    * merge-on-read table services.
    */
  def compact(table: TableSchema): Unit = {
    val current = raw(table)
    val wmRow = current.agg(max(col(Envelope.LsnCol)),
      max(col(Envelope.TimestampCol))).collect()(0)
    // empty raw table: nothing to fold, and a watermark of "null"
    // would poison the next read — skip
    if (wmRow.isNullAt(1)) return
    val wmLsn = if (wmRow.isNullAt(0)) -1L else wmRow.getLong(0)
    val wmTs = wmRow.getTimestamp(1)
    val state = latestViewFull(table)
    state.write.mode("overwrite").parquet(compactedPath(table))
    // Hadoop FileSystem API, not java.nio: root may be any supported
    // filesystem (hdfs://, s3a://), same as the parquet writes
    val p = new org.apache.hadoop.fs.Path(watermarkPath(table))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(s"$wmLsn\n$wmTs".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  // ---- vacuum: retention as partition drop ------------------------

  private def horizonPath(table: TableSchema) =
    s"$root/compacted/${table.ref.qualified}.horizon"

  /** First date still present in raw history (1970-01-01 = never
    * vacuumed). Time travel below it is gone — and fails loudly. */
  def retentionHorizon(table: TableSchema): java.sql.Date = {
    val p = new org.apache.hadoop.fs.Path(horizonPath(table))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) java.sql.Date.valueOf("1970-01-01")
    else {
      val in = fs.open(p)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      java.sql.Date.valueOf(text.trim)
    }
  }

  /** Drop raw `_date` partitions older than `retainFrom` whose rows
    * are all folded into the compacted baseline — the reference's
    * stated reason for time-partitioning its raw tables ("drop old
    * data", schema_builders.go:103-106) and the warehouse analogue of
    * partition expiration. Whole-directory deletes, no rewrite.
    *
    * Safety contract, enforced not assumed:
    *  - requires a compacted baseline, and only drops partitions
    *    strictly below BOTH `retainFrom` and the compaction
    *    watermark's date — every dropped row's latest state lives in
    *    the baseline, so [[latestView]] is unchanged (spec-verified);
    *  - the horizon sidecar commits (atomic rename) BEFORE deletion:
    *    a crash in between leaves extra partitions, never a lying
    *    horizon;
    *  - [[asOf]] below the horizon throws — pre-horizon time travel
    *    was deleted, and data loss must never look like an answer.
    *
    * @return number of partition directories dropped. */
  def vacuum(table: TableSchema, retainFrom: java.sql.Date): Long = {
    val (_, wmTs) = compactionWatermark(table).getOrElse(throw
      new IllegalStateException(
        s"vacuum(${table.ref.qualified}) requires compact() first: " +
          "without a baseline, dropped partitions would lose state"))
    // a partition d is fully covered iff every possible ts in it
    // (< d+1 00:00) is <= wmTs, i.e. d is strictly before wmTs's date
    val wmDate = java.sql.Date.valueOf(wmTs.toLocalDateTime.toLocalDate)
    val floor = if (retainFrom.before(wmDate)) retainFrom else wmDate
    val rawDir = new org.apache.hadoop.fs.Path(rawPath(table))
    val fs = rawDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rawDir)) return 0L
    val droppable = fs.listStatus(rawDir).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("_date="))
      .filter { s =>
        val d = java.sql.Date.valueOf(
          s.getPath.getName.stripPrefix("_date="))
        d.before(floor)
      }
    if (droppable.isEmpty) return 0L
    // horizon first (atomic), deletion second — see safety contract
    val prev = retentionHorizon(table)
    val horizon = if (prev.after(floor)) prev else floor
    val hp = new org.apache.hadoop.fs.Path(horizonPath(table))
    val tmp = new org.apache.hadoop.fs.Path(horizonPath(table) + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(horizon.toString.getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    fs.delete(hp, false)
    fs.rename(tmp, hp)
    droppable.foreach(s => fs.delete(s.getPath, true))
    droppable.size.toLong
  }

  private def compactionWatermark(
      table: TableSchema): Option[(Long, java.sql.Timestamp)] = {
    val p = new org.apache.hadoop.fs.Path(watermarkPath(table))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val Array(lsn, ts) = text.trim.split("\n")
      Some((lsn.toLong, java.sql.Timestamp.valueOf(ts)))
    }
  }

  /** Latest rows from the full raw history (ignores compaction).
    * Truncate markers apply here too, so a compacted baseline folds
    * them in — markers at or before the compaction watermark then
    * never need re-applying. */
  private def latestViewFull(table: TableSchema): DataFrame =
    ChangelogOps.latestRowsMerged(
      afterTruncate(raw(table), truncateMarker(table)), table.primaryKeys)

  /** Latest rows, compaction-aware: baseline rows (as IMPORT-like
    * images at epoch timestamp, watermark LSN) unioned with the raw
    * tail past the watermark, deduped by the same window. Identical
    * result to the full-history view — the equivalence is tested —
    * but the window input is |state| + |tail| instead of |history|.
    */
  def latestViewCompacted(table: TableSchema): DataFrame =
    compactionWatermark(table) match {
      case None => latestViewFull(table)
      case Some((wmLsn, wmTs)) => compactedStateRead(table, wmLsn, wmTs, None)
    }

  /** Baseline + raw tail, optionally bounded above by `upTo` (the
    * compaction-aware `asOf`): the baseline is state at the watermark,
    * the tail replays changes in (watermark, upTo]. */
  private def compactedStateRead(table: TableSchema, wmLsn: Long,
      wmTs: java.sql.Timestamp,
      upTo: Option[java.sql.Timestamp]): DataFrame = {
        val rawDf = raw(table)
        val payloadType = rawDf.schema(Envelope.AfterCol).dataType
          .asInstanceOf[org.apache.spark.sql.types.StructType]
        val baseline = spark.read.parquet(compactedPath(table))
        // baseline rows re-enter the window as IMPORT-like envelopes
        // at epoch timestamp so any tail change (including DELETEs)
        // wins over them; their cells are fully materialised, so tail
        // rows with unchanged-TOAST markers merge from them
        val baseEnv = baseline.select(
          lit(java.sql.Timestamp.valueOf("1970-01-01 00:00:00"))
            .cast("timestamp").as(Envelope.TimestampCol),
          lit(wmLsn).as(Envelope.LsnCol),
          lit(null).cast("long").as(Envelope.SequenceCol),
          lit(graft.model.Operation.Import).as(Envelope.OperationCol),
          lit(null).cast(payloadType).as(Envelope.BeforeCol),
          struct(payloadType.fields.toIndexedSeq.map(f => col(f.name)): _*)
            .cast(payloadType).as(Envelope.AfterCol))
        // tail = stream rows past the LSN watermark, plus lsn-null
        // (import) rows past the timestamp watermark. Contract: rows
        // at or before both watermarks are fully represented by the
        // baseline — i.e. compaction assumes watermark-ordered
        // arrival, the same at-least-once contract as the ack.
        val envCols = Seq(Envelope.TimestampCol, Envelope.LsnCol,
          Envelope.SequenceCol, Envelope.OperationCol, Envelope.BeforeCol,
          Envelope.AfterCol) ++
          (if (rawDf.columns.contains(Envelope.UnchangedCol))
            Seq(Envelope.UnchangedCol) else Nil)
        val tail = upTo.foldLeft(rawDf
            .where(col(Envelope.LsnCol) > wmLsn ||
              (col(Envelope.LsnCol).isNull && col(Envelope.TimestampCol) > lit(wmTs)))) {
            (df, ts) => df.where(col("_date") <= to_date(lit(ts)) &&
              col(Envelope.TimestampCol) <= lit(ts))
          }
          .select(envCols.map(col): _*)
        // markers past the watermark have not been folded into the
        // baseline: apply them to the union (a post-compaction
        // truncate drops the baseline rows too — its epoch timestamp
        // sorts before any marker). Markers at or before the
        // watermark are already reflected by compact()'s filtered
        // state and must NOT re-apply, or they would wrongly erase
        // the baseline's synthetic envelopes.
        ChangelogOps.latestRowsMerged(
          afterTruncate(
            baseEnv.unionByName(tail, allowMissingColumns = true),
            truncateMarker(table, upTo = upTo, past = Some((wmLsn, wmTs)))),
          table.primaryKeys)
  }
}

object WarehouseSink {

  /** Pure DDL generator behind [[WarehouseSink.latestViewDdl]] —
    * schema in, SQL text out, no SparkSession — so the golden test
    * pins the emitted text without standing up a sink. */
  def latestViewDdl(table: graft.model.TableSchema): String = {
    import graft.model.Envelope
    val img = s"coalesce(`${Envelope.AfterCol}`, `${Envelope.BeforeCol}`)"
    // the PARTITION BY repeats the coalesce expression rather than
    // referencing the `img` alias: Spark SQL rejects lateral column
    // aliases inside window expressions (UNSUPPORTED_FEATURE.
    // LATERAL_COLUMN_ALIAS_IN_WINDOW)
    val pks = table.primaryKeys
      .map(k => s"      $img.`$k`").mkString(",\n")
    val cols = table.payloadStruct.fields
      .map(f => s"  img.`${f.name}` AS `${f.name}`").mkString(",\n")
    s"""CREATE OR REPLACE TEMPORARY VIEW `${table.name}` AS
       |SELECT
       |$cols
       |FROM (
       |  SELECT $img AS img, `${Envelope.OperationCol}`, row_number() OVER (
       |    PARTITION BY
       |$pks
       |    ORDER BY `${Envelope.TimestampCol}` DESC,
       |      `${Envelope.LsnCol}` DESC NULLS LAST,
       |      `${Envelope.SequenceCol}` DESC NULLS LAST
       |  ) AS row_number
       |  FROM `${table.name}_raw`
       |)
       |WHERE row_number = 1
       |  AND `${Envelope.OperationCol}` != 'DELETE'
       |""".stripMargin
  }
}
