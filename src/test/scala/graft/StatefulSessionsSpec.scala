package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.ChangelogOps
import graft.sources.ImportSource
import graft.streaming.StatefulSessions

/** The custom-state streaming surface (SURVEY §2.9):
  * `flatMapGroupsWithState` sessionization and its declarative
  * `session_window` twin, both replayed over the events table in three
  * event-time-ordered micro-batches and compared session-for-session
  * against the batch `ChangelogOps.sessionize` oracle. The split
  * forces sessions to span micro-batch boundaries (state must carry),
  * and the far-future sentinel advances the watermark so event-time
  * timeouts / window closes flush the final open sessions.
  */
class StatefulSessionsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._
  val sf = "/root/testdata/sf0.001"
  val gap = 1800L
  val sentinelTs = new java.sql.Timestamp(4102444800000L) // 2100-01-01

  private def events: DataFrame =
    ImportSource.table(spark, sf, "events")
      .select($"user_id", $"ts", $"value")

  /** Batch oracle: per closed session (user, startUs, endUs, n, sum). */
  private lazy val expected: Map[(Long, Long, Long, Long), Double] =
    ChangelogOps.sessionize(events, $"user_id", $"ts", gap)
      .groupBy($"user_id", $"session_id")
      .agg(min(unix_micros($"ts")).as("s"), max(unix_micros($"ts")).as("e"),
        count(lit(1)).as("n"), sum($"value").as("v"))
      .select($"user_id", $"s", $"e", $"n", $"v")
      .as[(Long, Long, Long, Long, Double)].collect()
      .map { case (u, s, e, n, v) => (u, s, e, n) -> v }.toMap

  private def assertMatches(got: Seq[(Long, Long, Long, Long, Double)]): Unit = {
    assert(got.length == got.toSet.size, "duplicate session emitted")
    val gotKeys = got.map { case (u, s, e, n, _) => (u, s, e, n) }.toSet
    assert(gotKeys == expected.keySet,
      s"session boundaries diverge: got ${gotKeys.size}, want ${expected.size}")
    for ((u, s, e, n, v) <- got)
      // double sums differ only by fold order between batch and stream
      assert(math.abs(v - expected((u, s, e, n))) < 1e-6, s"sum for ($u,$s)")
    assert(expected.size > 100) // non-trivial corpus
  }

  private val schema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("user_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("ts",
      org.apache.spark.sql.types.TimestampType),
    org.apache.spark.sql.types.StructField("value",
      org.apache.spark.sql.types.DoubleType)))

  private def drop(src: String, i: Int, rows: Seq[Row]): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.parquet(s"$src/b$i")

  /** ts-ordered slices of the events table, for batch-boundary replay. */
  private def slicesOf(k: Int): Seq[Seq[Row]] = {
    val rows = events.orderBy($"ts").collect().toSeq
    rows.grouped(rows.length / k + 1).toSeq
  }

  /** Replay the event slices plus a watermark-advancing sentinel
    * through `mkStream`, one micro-batch wave per slice; return every
    * emitted row for real users (the sentinel user is -1).
    */
  private def replay(queryName: String)(mkStream: DataFrame => DataFrame): Seq[Row] = {
    val src = Files.createTempDirectory(s"graft-$queryName").toString
    val slices = slicesOf(3)
    drop(src, 0, slices(0))
    val stream = mkStream(spark.readStream.schema(schema).parquet(s"$src/*"))
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName(queryName).start()
    try {
      q.processAllAvailable()
      for (i <- 1 until slices.length) {
        drop(src, i, slices(i)); q.processAllAvailable()
      }
      drop(src, slices.length, Seq(Row(-1L, sentinelTs, 0.0)))
      q.processAllAvailable()
    } finally q.stop()
    val t = spark.table(queryName)
    t.where(col(t.columns.head) >= 0).collect().toSeq
  }

  test("flatMapGroupsWithState sessionization matches batch sessionize across micro-batches") {
    val got = replay("fmgws_sessions") { s =>
      StatefulSessions.sessions(s, gap, "60 seconds").toDF()
    }.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assertMatches(got)
  }

  test("incremental batch sessionization: any day-split equals the one-pass sessionize") {
    import org.apache.spark.sql.types.{StructType, StructField, LongType, DoubleType}
    val openSchema = StructType(Seq(
      StructField("user_id", LongType), StructField("startUs", LongType),
      StructField("lastUs", LongType), StructField("n_events", LongType),
      StructField("sum_value", DoubleType)))
    def emptyOpen = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], openSchema)
    def emptyEvents = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], schema)
    for (k <- Seq(2, 3)) {
      var open = emptyOpen
      val closedAll = Seq.newBuilder[(Long, Long, Long, Long, Double)]
      def drain(df: DataFrame): Unit =
        closedAll ++= df
          .select($"user_id", $"startUs", $"endUs", $"n_events", $"sum_value")
          .as[(Long, Long, Long, Long, Double)].collect()
      slicesOf(k).foreach { rows =>
        val day = spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 2), schema)
        // sessions that cannot reach the NEXT day (slices are
        // ts-ordered) close now; the rest carry
        val cutoffUs = rows.map(_.getTimestamp(1).getTime).max * 1000L
        val (closed, newOpen) = ChangelogOps.sessionizeIncremental(
          open, day, "user_id", "ts", "value", gap, cutoffUs)
        drain(closed)
        // persist the (bounded) state table like a real daily job
        open = spark.createDataFrame(
          spark.sparkContext.parallelize(newOpen.collect().toSeq, 1),
          newOpen.schema)
      }
      // end of history: flush every remaining open session
      val (lastClosed, rest) = ChangelogOps.sessionizeIncremental(
        open, emptyEvents, "user_id", "ts", "value", gap, Long.MaxValue)
      drain(lastClosed)
      assert(rest.count() == 0)
      assertMatches(closedAll.result())
    }
  }

  test("session_window streaming aggregation matches batch sessionize across micro-batches") {
    val got = replay("sw_sessions") { s =>
      StatefulSessions.sessionWindowStats(s, gap, "60 seconds")
        .select($"user_id", unix_micros($"session_start").as("s"),
          $"n_events", $"sum_value")
    }.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.length == got.toSet.size)
    val gotKeys = got.map { case (u, s, n, _) => (u, s, n) }.toSet
    val wantKeys = expected.keySet.map { case (u, s, _, n) => (u, s, n) }
    assert(gotKeys == wantKeys)
  }

  test("late-but-in-watermark events merge into the open session; beyond-watermark events drop") {
    val src = Files.createTempDirectory("graft-late_sessions").toString
    def at(s: String) = java.sql.Timestamp.valueOf(s)
    val q = StatefulSessions.sessions(
        spark.readStream.schema(schema).parquet(s"$src/*"), 600L, "30 minutes")
      .toDF()
      .writeStream.outputMode("append")
      .format("memory").queryName("late_sessions").start()
    try {
      // batch 1: two events 5 min apart — one open session for user 1
      drop(src, 0, Seq(
        Row(1L, at("2024-01-01 10:00:00"), 1.0),
        Row(1L, at("2024-01-01 10:05:00"), 2.0)))
      q.processAllAvailable()
      // batch 2 carries the max event time to 10:40 (user 2), PLUS a
      // LATE event for user 1 at 10:02 — 38 min behind, inside the
      // 30-min watermark relative to batch 1's max (10:05), and
      // in-gap: it must merge into the open session, not start one
      drop(src, 1, Seq(
        Row(2L, at("2024-01-01 10:40:00"), 0.5),
        Row(1L, at("2024-01-01 10:02:00"), 4.0)))
      q.processAllAvailable()
      // batch 3: beyond-watermark straggler for user 1 (now > 30 min
      // behind 10:40) — the watermark must drop it — then the
      // sentinel to flush everything
      drop(src, 2, Seq(Row(1L, at("2024-01-01 10:03:00"), 100.0)))
      q.processAllAvailable()
      drop(src, 3, Seq(Row(-1L, sentinelTs, 0.0)))
      q.processAllAvailable()
    } finally q.stop()

    val got = spark.table("late_sessions").where($"user" >= 0)
      .select($"user", $"startUs", $"endUs", $"n_events", round($"sum_value", 6))
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    def us(s: String) = at(s).getTime * 1000L
    assert(got == Set(
      // user 1: three events (the late one merged, the dropped one not)
      (1L, us("2024-01-01 10:00:00"), us("2024-01-01 10:05:00"), 3L, 7.0),
      (2L, us("2024-01-01 10:40:00"), us("2024-01-01 10:40:00"), 1L, 0.5)))
  }

  test("stateful sessions survive a query restart from the checkpoint") {
    // stop the query between drops and restart it against the same
    // checkpoint: open sessions must resume, no session emits twice
    val src = Files.createTempDirectory("graft-restart").toString
    val ck = Files.createTempDirectory("graft-restart-ck").toString
    val out = Files.createTempDirectory("graft-restart-out").toString
    val slices = slicesOf(2)
    // a durable (file) sink: the memory sink cannot recover from a
    // checkpoint, and durability across restart is the point here
    def start() = StatefulSessions.sessions(
        spark.readStream.schema(schema).parquet(s"$src/*"), gap, "60 seconds")
      .toDF()
      .writeStream.outputMode("append")
      .option("checkpointLocation", ck)
      .format("parquet").option("path", out).start()

    drop(src, 0, slices(0))
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    val afterRun1 = spark.read.parquet(out).count()

    drop(src, 1, slices(1))
    drop(src, 2, Seq(Row(-1L, sentinelTs, 0.0)))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    val got = spark.read.parquet(out).collect().toSeq
      .filter(_.getLong(0) >= 0)
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assertMatches(got)
    assert(afterRun1 > 0, "run 1 closed no sessions — restart not exercised")
    assert(afterRun1 < got.length, "run 2 emitted nothing — state did not resume")
  }
}
