package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
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
  * - imports ([[insert]]) append with one distributed Spark write,
  *   which observes the batch's count and max lsn in its own job (no
  *   cache, no count/max pre-pass); a flush epoch's driver-held batch
  *   ([[insertCounted]]) and truncate markers are written on the
  *   driver by Spark's parquet writer, one file per `_date`
  *   directory, each under a hidden name and published by one rename
  *   — no Spark job on the ack path.
  */
final class WarehouseSink(spark: SparkSession, root: String) extends Sink {
  private val handler = new SchemaHandler(_ => ())

  def rawPath(table: TableSchema): String =
    s"$root/raw/${table.ref.qualified}"

  override def handleSchema(schema: TableSchema): SchemaOutcome =
    handler.handle(schema)

  /** The import insert: one distributed write, whose job also
    * observes the batch's (count, max lsn) fold. */
  override def insert(table: TableSchema, batch: DataFrame): InsertResult =
    InsertResult.observedWrite(batch)(observed => write(table, laidOut(table, observed)))

  /** The flush-epoch insert: the caller's fold is trusted, so there is
    * no cache and no count/max pre-pass. A batch the driver holds (a
    * `LocalRelation`, as the streaming pipeline builds) is written on
    * the driver by Spark's parquet writer, one file per `_date`
    * directory, with no Spark job; any other batch takes the
    * distributed [[write]]. */
  override def insertCounted(table: TableSchema, batch: DataFrame,
      known: InsertResult): InsertResult = {
    val rows = laidOut(table, batch)
    if (!Bridge.appendDriverParquet(rows, rawPath(table), Some("_date"), pkCols(table)))
      write(table, rows)
    known
  }

  /** The raw layout's added columns: the `_date` partition and the
    * materialised primary keys, which give parquet row-group min/max
    * stats. */
  private def laidOut(table: TableSchema, batch: DataFrame): DataFrame = {
    val image = coalesce(col(Envelope.AfterCol), col(Envelope.BeforeCol))
    batch
      .withColumn("_date", to_date(col(Envelope.TimestampCol)))
      .withColumns(table.primaryKeys.map(k => s"_pk_$k" -> image.getField(k)).toMap)
  }

  private def pkCols(table: TableSchema): Seq[String] =
    table.primaryKeys.map(k => s"_pk_$k")

  private def write(table: TableSchema, rows: DataFrame): Unit =
    rows.sortWithinPartitions(("_date" +: pkCols(table)).map(col): _*)
      .write.mode("append")
      .options(Bridge.localWriteOptions(spark, rawPath(table)))
      .partitionBy("_date")
      .parquet(rawPath(table))

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
    val marker = spark.createDataFrame(
      java.util.List.of(Row(at, lsn.map(Long.box).orNull,
        sequence.map(Long.box).orNull)), schema)
    // one driver-held row: the ack path writes it without a Spark job
    require(Bridge.appendDriverParquet(marker, truncatePath(table)),
      "a truncate marker is driver-held")
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
    val p = new Path(truncatePath(table))
    if (!fsOf(p).exists(p)) return None
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
    * Once compacted it reads baseline + tail, which stays correct
    * after [[vacuum]] drops the partitions the baseline covers. */
  def latestView(table: TableSchema): DataFrame = state(table, None)

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
    * partition filter prunes before the window runs. Instants before
    * the compaction watermark of a vacuumed table fail loudly:
    * deleted history must never look like an answer. */
  def asOf(table: TableSchema, ts: java.sql.Timestamp): DataFrame =
    state(table, Some(ts))

  /** The one state read behind [[latestView]], [[asOf]] and
    * [[compact]]: latest rows at or before `upTo` (None = now).
    * Without a baseline, or before its watermark, it windows the raw
    * history — which must then be intact. Otherwise it reads the
    * baseline (state at the watermark) plus the raw tail past it. */
  private def state(table: TableSchema,
      upTo: Option[java.sql.Timestamp]): DataFrame = {
    val rawDf = raw(table)
    def until(df: DataFrame) = upTo.fold(df)(ts =>
      df.where(col("_date") <= to_date(lit(ts)) &&
        col(Envelope.TimestampCol) <= lit(ts)))
    val (input, marker) = baseline(table)
        .filterNot(b => upTo.exists(_.before(b.wmTs))) match {
      case None =>
        // a key's last row at or before upTo may sit in a dropped
        // partition while the baseline holds NEWER state: the window
        // would answer wrongly, so refuse
        require(horizonMarkers(table).isEmpty,
          s"${table.ref.qualified} state" +
            s"${upTo.fold("")(ts => s" as of $ts")} predates the " +
            s"compaction watermark of a vacuumed table (horizon " +
            s"${retentionHorizon(table)}): retention dropped that history")
        (until(rawDf), truncateMarker(table, upTo = upTo))
      case Some(b) =>
        val payloadType = rawDf.schema(Envelope.AfterCol).dataType
          .asInstanceOf[org.apache.spark.sql.types.StructType]
        // baseline rows re-enter the window as IMPORT-like envelopes
        // at epoch timestamp so any tail change (including DELETEs)
        // wins over them; their cells are fully materialised, so tail
        // rows with unchanged-TOAST markers merge from them
        val stored = spark.read.parquet(b.path.toString)
        // a column added to raw after this baseline was written reads
        // as null in its rows, like raw's own mergeSchema read
        val baseEnv = stored.select(
          lit(java.sql.Timestamp.valueOf("1970-01-01 00:00:00"))
            .cast("timestamp").as(Envelope.TimestampCol),
          lit(b.wmLsn).as(Envelope.LsnCol),
          lit(null).cast("long").as(Envelope.SequenceCol),
          lit(graft.model.Operation.Import).as(Envelope.OperationCol),
          lit(null).cast(payloadType).as(Envelope.BeforeCol),
          struct(payloadType.fields.toIndexedSeq.map(f =>
              if (stored.columns.contains(f.name)) col(f.name)
              else lit(null).cast(f.dataType).as(f.name)): _*)
            .cast(payloadType).as(Envelope.AfterCol))
        // tail = stream rows past the LSN watermark, plus lsn-null
        // (import) rows past the timestamp watermark. Contract: rows
        // at or before both watermarks are fully represented by the
        // baseline — i.e. compaction assumes watermark-ordered
        // arrival, the same at-least-once contract as the ack. Its
        // _date/_pk_ columns read as null on baseline rows; the window
        // projects the image only.
        val tail = until(rawDf.where(col(Envelope.LsnCol) > b.wmLsn ||
            (col(Envelope.LsnCol).isNull &&
              col(Envelope.TimestampCol) > lit(b.wmTs))))
        // markers past the watermark have not been folded into the
        // baseline: apply them to the union (a post-compaction
        // truncate drops the baseline rows too — its epoch timestamp
        // sorts before any marker). Markers at or before the
        // watermark are already reflected by the baseline and must
        // NOT re-apply, or they would wrongly erase its synthetic
        // envelopes.
        (baseEnv.unionByName(tail, allowMissingColumns = true),
          truncateMarker(table, upTo = upTo, past = Some((b.wmLsn, b.wmTs))))
    }
    ChangelogOps.latestRowsMerged(afterTruncate(input, marker),
      table.primaryKeys)
  }

  // ---- compaction: bound the window's read amplification ----

  // Hadoop FileSystem API, not java.nio: root may be any supported
  // filesystem (hdfs://, s3a://), same as the parquet writes
  private def fsOf(p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def children(dir: Path): Seq[Path] = {
    val fs = fsOf(dir)
    if (fs.exists(dir)) fs.listStatus(dir).toSeq.map(_.getPath) else Nil
  }

  /** `compacted/<table>/`: one `gen-<n>` directory per baseline, with
    * its parquet state and the `_watermark` (lsn, timestamp) it covers. */
  private def compactedDir(table: TableSchema) =
    new Path(s"$root/compacted/${table.ref.qualified}")

  /** Earlier warehouses kept one flat baseline beside `.watermark`
    * and `.horizon` files; this layout would ignore the one and
    * misread the other, so refuse by name. */
  private def requireCurrentLayout(table: TableSchema): Unit = {
    val sidecar = new Path(s"${compactedDir(table)}.watermark")
    val horizon = horizonDir(table)
    val fs = fsOf(sidecar)
    require(!fs.exists(sidecar) &&
        !(fs.exists(horizon) && fs.getFileStatus(horizon).isFile),
      s"${table.ref.qualified} is in the older flat-baseline warehouse " +
        s"layout ($sidecar, $horizon); SCALING.md \"Warehouse vacuum\" " +
        "says how to migrate")
  }

  private case class Baseline(path: Path, wmLsn: Long,
      wmTs: java.sql.Timestamp)

  /** Every `gen-<n>` directory, published or not, oldest first. */
  private def generations(table: TableSchema): Seq[(Long, Path)] = {
    requireCurrentLayout(table)
    children(compactedDir(table)).filter(_.getName.startsWith("gen-"))
      .map(p => p.getName.stripPrefix("gen-").toLong -> p).sortBy(_._1)
  }

  /** The newest published baseline, if any: a generation is published
    * once its `_watermark` is complete (two newline-terminated lines),
    * so one still being written, or torn by a crash, is skipped. */
  private def baseline(table: TableSchema): Option[Baseline] =
    generations(table).reverseIterator.map(_._2).flatMap { path =>
      val wm = new Path(path, "_watermark")
      val fs = fsOf(wm)
      val text = if (!fs.exists(wm)) "" else {
        val in = fs.open(wm)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      }
      text.split("\n", -1) match {
        case Array(lsn, ts, "") =>
          Some(Baseline(path, lsn.toLong, java.sql.Timestamp.valueOf(ts)))
        case _ => None
      }
    }.nextOption()

  /** Fold the current latest-row state into the next compacted
    * baseline. The raw table stays append-only and untouched
    * (replay/audit/time-travel intact); readers via [[latestView]]
    * scan baseline + tail instead of full history. Run periodically —
    * the streaming analogue of merge-on-read table services.
    *
    * The new baseline is read from the one it replaces, so it is
    * never written in place: it goes into a fresh `gen-<n>` directory
    * and its `_watermark`, written last, publishes it. Only then are
    * older generations deleted — published ones and any a crashed run
    * left unpublished. No step renames a directory, so every crash
    * window leaves the previous baseline readable on any filesystem.
    */
  def compact(table: TableSchema): Unit = {
    val wmRow = raw(table).agg(coalesce(max(col(Envelope.LsnCol)), lit(-1L)),
      max(col(Envelope.TimestampCol))).collect()(0)
    // empty raw table: nothing to fold, and a watermark of "null"
    // would poison the next read — skip
    if (wmRow.isNullAt(1)) return
    val prev = baseline(table)
    // the watermark never moves back: after a vacuum, raw may no
    // longer hold the rows the previous baseline covers
    val wmLsn = math.max(wmRow.getLong(0), prev.fold(-1L)(_.wmLsn))
    val wmTs = prev.map(_.wmTs).filter(_.after(wmRow.getTimestamp(1)))
      .getOrElse(wmRow.getTimestamp(1))
    val older = generations(table)
    val next = new Path(compactedDir(table),
      s"gen-${older.lastOption.fold(1L)(_._1 + 1)}")
    state(table, None).write.parquet(next.toString)
    val fs = fsOf(next)
    val out = fs.create(new Path(next, "_watermark"), false)
    try out.write(s"$wmLsn\n$wmTs\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    older.foreach(g => fs.delete(g._2, true))
  }

  // ---- vacuum: retention as partition drop ------------------------

  /** One empty marker file per horizon date a vacuum committed. */
  private def horizonDir(table: TableSchema) =
    new Path(s"$root/compacted/${table.ref.qualified}.horizon")

  private def horizonMarkers(table: TableSchema): Seq[java.sql.Date] = {
    requireCurrentLayout(table)
    children(horizonDir(table)).map(_.getName)
      .filterNot(_.startsWith(".")) // checksum sidecars
      .map(java.sql.Date.valueOf)
  }

  /** First date still present in raw history (1970-01-01 = never
    * vacuumed): the newest committed horizon marker. Time travel
    * below it is gone — and fails loudly. */
  def retentionHorizon(table: TableSchema): java.sql.Date =
    horizonMarkers(table).maxOption
      .getOrElse(java.sql.Date.valueOf("1970-01-01"))

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
    *  - the horizon marker is created BEFORE deletion and no marker
    *    is ever deleted: a crash in between leaves extra partitions,
    *    never a missing or lying horizon;
    *  - [[asOf]] below the watermark throws — pre-horizon time travel
    *    was deleted, and data loss must never look like an answer.
    *
    * @return number of partition directories dropped. */
  def vacuum(table: TableSchema, retainFrom: java.sql.Date): Long = {
    val b = baseline(table).getOrElse(throw
      new IllegalStateException(
        s"vacuum(${table.ref.qualified}) requires compact() first: " +
          "without a baseline, dropped partitions would lose state"))
    // a partition d is fully covered iff every possible ts in it
    // (< d+1 00:00) is <= wmTs, i.e. d is strictly before wmTs's date
    val wmDate = java.sql.Date.valueOf(b.wmTs.toLocalDateTime.toLocalDate)
    val floor = if (retainFrom.before(wmDate)) retainFrom else wmDate
    val droppable = children(new Path(rawPath(table)))
      .filter(_.getName.startsWith("_date="))
      .filter(p => java.sql.Date.valueOf(
        p.getName.stripPrefix("_date=")).before(floor))
    if (droppable.isEmpty) return 0L
    // horizon first, deletion second — see safety contract
    val fs = fsOf(horizonDir(table))
    fs.create(new Path(horizonDir(table), floor.toString), true).close()
    droppable.foreach(fs.delete(_, true))
    droppable.size.toLong
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
