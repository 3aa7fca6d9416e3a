package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ImportSource

/** Streaming twins of the batch operators: windowed aggregation with
  * watermark (late-data bound) over the events table replayed as a
  * stream — SURVEY §2.9's extension surface.
  */
// top-level so spark.implicits can derive Encoders
case class StateE(user: Long, lsn: Long)
case class StateS(n: Long, maxLsn: Long)

class StreamingWindowSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._
  val sf = "/root/testdata/sf0.001"

  test("tumbling window + watermark over a replayed event stream matches batch") {
    // replay events as a file stream (ns timestamps converted on write)
    val src = Files.createTempDirectory("graft-stream").toString
    val ev = ImportSource.table(spark, sf, "events")
      .select($"ts", $"event_type", $"value")
    ev.write.parquet(s"$src/batch0")

    val stream = spark.readStream
      .schema(ev.schema)
      .parquet(s"$src/*")
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select($"window.start".as("hour_start"), $"event_type", $"n")

    val q = stream.writeStream
      .outputMode("complete")
      .format("memory").queryName("win_out")
      .trigger(Trigger.ProcessingTime("1 seconds"))
      .start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("win_out")
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    val batch = ev.groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select($"window.start".as("hour_start"), $"event_type", $"n")
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("stream-static enrichment join matches the batch join (dim broadcast per batch)") {
    val src = Files.createTempDirectory("graft-ss").toString
    val ev = ImportSource.table(spark, sf, "events")
      .select($"event_id", $"user_id", $"event_type")
    ev.write.parquet(s"$src/batch0")
    // static dimension: the per-user event-type vocabulary size
    val dim = ImportSource.table(spark, sf, "customer")
      .select($"c_custkey".as("user_id"), $"c_nationkey")
    val stream = spark.readStream.schema(ev.schema).parquet(s"$src/*")
      .join(dim, Seq("user_id"))
      .select($"event_id", $"c_nationkey")
    val q = stream.writeStream
      .outputMode("append").format("memory").queryName("ss_out").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("ss_out")
      .as[(Long, Long)].collect().toSet
    val batch = ev.join(dim, Seq("user_id"))
      .select($"event_id", $"c_nationkey")
      .as[(Long, Long)].collect().toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("stream-stream interval join matches the batch banded range join") {
    // clicks joined to purchases of the same user within the next hour,
    // both sides streaming with watermarks — the streaming twin of
    // TemporalJoins.bandedRangeJoin. The time bound is what lets Spark
    // expire join state; an unbounded stream-stream join would grow
    // state forever.
    val src = Files.createTempDirectory("graft-ssj").toString
    val ev = ImportSource.table(spark, sf, "events")
      .select($"event_id", $"user_id", $"ts", $"event_type")
    ev.write.parquet(s"$src/batch0")

    def side(tpe: String, prefix: String) = spark.readStream
      .schema(ev.schema).parquet(s"$src/*")
      .where($"event_type" === tpe)
      .select(col("event_id").as(s"${prefix}_id"),
        col("user_id").as(s"${prefix}_user"), col("ts").as(s"${prefix}_ts"))
      .withWatermark(s"${prefix}_ts", "10 minutes")

    val joined = side("click", "c").join(side("purchase", "p"),
      expr("""c_user = p_user AND
              p_ts > c_ts AND p_ts <= c_ts + INTERVAL 1 HOUR"""))
      .select($"c_id", $"p_id")

    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssj_out").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("ssj_out").as[(Long, Long)].collect().toSet

    val clicks = ev.where($"event_type" === "click")
      .select($"event_id".as("a_id"), $"user_id", $"ts")
    val purchases = ev.where($"event_type" === "purchase")
      .select($"event_id".as("b_id"), $"user_id".as("b_user"), $"ts".as("b_ts"))
    val batch = graft.ops.TemporalJoins
      .bandedRangeJoin(clicks, purchases, "user_id", "b_user", "ts", "b_ts", 3600L)
      .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("watermarked streaming dedup drops replayed event ids") {
    // at-least-once delivery upstream -> exactly-once downstream via
    // dropDuplicatesWithinWatermark on the event id: batch 1 is
    // replayed in full plus new rows, duplicates must not re-emit
    val src = Files.createTempDirectory("graft-dedup").toString
    val ev = ImportSource.table(spark, sf, "events")
      .select($"event_id", $"user_id", $"ts", $"value")
    val (first, second) = (ev.where($"event_id" % 3 =!= 0), ev)
    first.write.parquet(s"$src/batch0")

    // the delay must cover the whole replay horizon: rows older than
    // the advanced watermark are dropped as late, not deduped. The
    // events table spans ~30 days, so 31 days keeps every replayed
    // row inside the dedup window (the CDC contract: replays arrive
    // within the retention period).
    val stream = spark.readStream.schema(ev.schema).parquet(s"$src/*")
      .withWatermark("ts", "31 days")
      .dropDuplicatesWithinWatermark("event_id")

    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      q.processAllAvailable()
      second.write.mode("append").parquet(s"$src/batch1") // full replay + the rest
      q.processAllAvailable()
    } finally q.stop()

    val out = spark.table("dedup_out").select($"event_id").as[Long].collect()
    assert(out.length == out.distinct.length, "replay must not duplicate")
    assert(out.toSet == ev.select($"event_id").as[Long].collect().toSet)
  }

  test("native session_window streaming agg matches ChangelogOps.sessionize session count") {
    import graft.ops.ChangelogOps
    val src = Files.createTempDirectory("graft-sess").toString
    val ev = ImportSource.table(spark, sf, "events")
      .select($"user_id", $"ts", $"value")
    ev.write.parquet(s"$src/b0")

    // streaming: native session_window with a 30-minute gap
    val q = spark.readStream.schema(ev.schema).parquet(s"$src/*")
      .withWatermark("ts", "1 minute")
      .groupBy($"user_id", session_window($"ts", "30 minutes"))
      .agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("sess_out").start()
    try q.processAllAvailable() finally q.stop()
    val streamedSessions = spark.table("sess_out")
      .groupBy($"user_id").agg(count(lit(1)).as("n_sessions"))
      .as[(Long, Long)].collect().toMap

    // batch: our gap-rule sessionize
    val batchSessions = ChangelogOps.sessionize(ev, $"user_id", $"ts", 1800L)
      .groupBy($"user_id").agg(max($"session_id").as("n_sessions"))
      .as[(Long, Long)].collect().toMap
    assert(streamedSessions == batchSessions)
    assert(streamedSessions.nonEmpty)
  }

  test("append mode emits a window exactly once, only after the watermark closes it") {
    // the sink-facing contract for incremental window emission: a
    // window row appears in the output stream exactly once, finalized,
    // when the watermark passes its end — not before, and never again
    val src = Files.createTempDirectory("graft-append").toString
    import java.sql.Timestamp
    def batch(rows: (String, Long)*) =
      rows.toSeq.map { case (t, v) => (Timestamp.valueOf(t), v) }
        .toDF("ts", "v")

    batch("2024-01-01 10:05:00" -> 1L, "2024-01-01 10:50:00" -> 2L)
      .write.parquet(s"$src/b0")
    val q = spark.readStream.schema("ts TIMESTAMP, v LONG").parquet(s"$src/*")
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "1 hour"))
      .agg(sum($"v").as("total"))
      .select($"window.start".as("w"), $"total")
      .writeStream.outputMode("append")
      .format("memory").queryName("append_out").start()
    try {
      q.processAllAvailable()
      // watermark still inside hour 10: nothing finalized yet
      assert(spark.table("append_out").count() == 0)

      // an event far past hour 10 advances the watermark beyond 11:00:
      // the 10:00 window must emit, finalized with BOTH rows
      batch("2024-01-01 12:30:00" -> 5L).write.mode("append").parquet(s"$src/b1")
      q.processAllAvailable()
      val after = spark.table("append_out")
        .as[(Timestamp, Long)].collect().toMap
      assert(after == Map(Timestamp.valueOf("2024-01-01 10:00:00") -> 3L))

      // more data past the next hour: hour-12 closes and emits once;
      // hour-10 must NOT re-emit
      batch("2024-01-01 13:30:00" -> 7L).write.mode("append").parquet(s"$src/b2")
      q.processAllAvailable()
      val again = spark.table("append_out")
        .as[(Timestamp, Long)].collect().toMap
      assert(again == Map(
        Timestamp.valueOf("2024-01-01 10:00:00") -> 3L,
        Timestamp.valueOf("2024-01-01 12:00:00") -> 5L))
      assert(spark.table("append_out").count() == 2) // exactly once each
    } finally q.stop()
  }

  test("mapGroupsWithState keeps per-key running state across micro-batches") {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    // per-user running event count + max lsn — the distributed,
    // stateful form of the ack-watermark fold (SURVEY §2.9): state
    // lives in the state store, not the driver
    def update(user: Long, events: Iterator[StateE],
        state: GroupState[StateS]): StateS = {
      val prev = state.getOption.getOrElse(StateS(0, -1))
      val es = events.toSeq
      val next = StateS(prev.n + es.size,
        (prev.maxLsn +: es.map(_.lsn)).max)
      state.update(next)
      next
    }

    val src = Files.createTempDirectory("graft-state").toString
    val ckpt = Files.createTempDirectory("graft-state-ckpt").toString

    def run(name: String): Seq[StateS] = {
      val got = scala.collection.mutable.ArrayBuffer.empty[StateS]
      val q = spark.readStream.schema("user LONG, lsn LONG")
        .parquet(s"$src/*").as[StateE]
        .groupByKey(_.user)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout())(update _)
        .writeStream.outputMode(OutputMode.Update)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[StateS], _: Long) =>
          got.synchronized { got ++= batch.collect() }
          ()
        }
        .option("checkpointLocation", ckpt)
        .start()
      try q.processAllAvailable() finally q.stop()
      got.toSeq
    }

    Seq(StateE(1, 10), StateE(1, 12), StateE(2, 5)).toDF().write.parquet(s"$src/b0")
    val first = run("state_out1")
    assert(first.contains(StateS(2, 12)) && first.contains(StateS(1, 5)))

    // second query, same checkpoint: state must carry over
    Seq(StateE(1, 20), StateE(3, 1)).toDF().write.mode("append").parquet(s"$src/b1")
    val second = run("state_out2")
    // user 1: one new event on top of checkpointed (n=2, maxLsn=12)
    assert(second.contains(StateS(3, 20)), s"got $second")
    // user 3 is new
    assert(second.contains(StateS(1, 1)))
  }

  test("query listener accumulates per-batch progress for named CDC queries") {
    import graft.streaming.CdcQueryListener
    val listener = new CdcQueryListener
    spark.streams.addListener(listener)
    try {
      val src = Files.createTempDirectory("graft-listen").toString
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
        .write.parquet(s"$src/b0")
      val q = spark.readStream.schema("id LONG, v STRING").parquet(s"$src/*")
        .writeStream.queryName("listened")
        .format("memory").start()
      try q.processAllAvailable() finally q.stop()
      // listener events are async; wait briefly for delivery
      val deadline = System.currentTimeMillis() + 10000
      var stats = listener.statsOf("listened")
      while (stats.forall(_.rows < 3) && System.currentTimeMillis() < deadline) {
        Thread.sleep(100); stats = listener.statsOf("listened")
      }
      assert(stats.exists(_.rows == 3), s"got $stats")
      assert(stats.exists(_.batches >= 1))
      // the whole phase breakdown of the last progress is kept
      val phases = stats.get.lastDurationsMs
      assert(Set("triggerExecution", "addBatch").subsetOf(phases.keySet),
        s"got $phases")
    } finally spark.streams.removeListener(listener)
  }

  test("instrumented sink records batch counts, durations, schema outcomes") {
    import graft.sinks._
    import graft.model._
    val root = Files.createTempDirectory("graft-instr").toString
    val sink = new InstrumentedSink(new WarehouseSink(spark, root))
    val table = Envelope.tableSchemaOf(1L, "public", "region",
      ImportSource.table(spark, sf, "region").schema, Seq("r_regionkey"))
    assert(sink.handleSchema(table) == SchemaOutcome.Update)
    assert(sink.handleSchema(table) == SchemaOutcome.Noop)
    val env = ImportSource.importTable(spark, sf, "region",
      java.sql.Timestamp.valueOf("2024-06-01 00:00:00"))
    val r = sink.insert(table, env)
    assert(r.count == 5)
    assert(sink.insertCount.sum() == 1)
    assert(sink.rowCount.sum() == 5)
    assert(sink.maxBatchSize.get() == 5)
    assert(sink.schemaUpdates.sum() == 1 && sink.schemaNoops.sum() == 1)
    assert(sink.meanInsertSeconds > 0.0)
  }

  test("map-side curation gates run unchanged on a stream (Gopher + PII scrub)") {
    // the quality/PII operators are pure column arithmetic, so the
    // SAME code path serves batch curation and streaming ingestion —
    // no streaming twin needed, which is the point of declaring them
    // as expressions rather than jobs
    val src = Files.createTempDirectory("graft-gate").toString
    val docsB = ImportSource.table(spark, sf, "documents")
      .select($"doc_id", $"text")
    docsB.write.parquet(s"$src/batch0")
    val streamed = graft.ops.TextOps.gopherQuality(
        spark.readStream.schema(docsB.schema).parquet(s"$src/*")
          .withColumn("text", graft.ops.TextOps.scrubPii($"text")),
        "doc_id", "text", minWords = 20)
    assert(streamed.isStreaming)
    val q = streamed.writeStream
      .outputMode("append").format("memory").queryName("gate_out").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("gate_out")
      .select($"doc_id", $"keep").as[(Long, Int)].collect().toMap
    val want = graft.ops.TextOps.gopherQuality(
        docsB.withColumn("text", graft.ops.TextOps.scrubPii($"text")),
        "doc_id", "text", minWords = 20)
      .select($"doc_id", $"keep").as[(Long, Int)].collect().toMap
    assert(got == want && got.nonEmpty && got.values.toSet == Set(0, 1))
  }
}
