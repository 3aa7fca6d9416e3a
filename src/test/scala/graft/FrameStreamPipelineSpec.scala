package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.model.{PgTypes, TableSchema}
import graft.sinks.{InsertResult, Sink, WarehouseSink}
import graft.sources._
import graft.streaming.{CdcPipeline, FrameStreamPipeline}

/** End-to-end streaming CDC: binary frames → DSv2 source → decode →
  * warehouse raw → latest view, across multiple flush epochs with the
  * relation cache carried between them.
  */
class FrameStreamPipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._
  import PgOutput._

  def tmp(): String = Files.createTempDirectory("graft-pipe").toString

  val rel = Relation(1L, "public", "pets", 'd'.toByte, Seq(
    RelationColumn(key = true, "id", PgTypes.Int8, -1),
    RelationColumn(key = false, "name", PgTypes.Text, -1)))
  def cell(v: String) = Element('t'.toByte, Some(v.getBytes("UTF-8")))
  def ins(id: Long, name: String) =
    encodeInsert(Insert(1L, TupleData(Seq(cell(id.toString), cell(name)))))
  def upd(id: Long, name: String) =
    encodeUpdate(Update(1L, Some('K'.toByte),
      Some(TupleData(Seq(cell(id.toString), Element('n'.toByte, None)))),
      TupleData(Seq(cell(id.toString), cell(name)))))
  def del(id: Long) =
    encodeDelete(Delete(1L, 'K'.toByte,
      TupleData(Seq(cell(id.toString), Element('n'.toByte, None)))))

  test("frames stream end-to-end into the warehouse latest view across epochs") {
    val frameDir = tmp(); val ckpt = tmp(); val wh = tmp()
    val sink = new WarehouseSink(spark, wh)
    val wm = new CdcPipeline.AckWatermark

    // epoch 1: relation + two inserts in one txn
    PgOutputFrameLog.append(frameDir, "seg-000",
      Seq(encodeBegin(Begin(100L, 0L, 1L)), encodeRelation(rel),
        ins(1L, "rex"), ins(2L, "whiskers"),
        encodeCommit(Commit(0, 100L, 101L, 0L))))
    val q1 = FrameStreamPipeline.start(spark, frameDir, sink, wm, ckpt, "1 seconds")
    try q1.processAllAvailable() finally q1.stop()
    assert(wm.position.contains(100L))

    // epoch 2 (restarted query, same checkpoint): update + delete,
    // NO relation re-emit — schema must come from the builder cache.
    // Note: a restarted driver would replay the relation (the
    // reference re-reads it from the slot); here the builder instance
    // is fresh per start(), so re-emit the relation like a real
    // reconnect does.
    PgOutputFrameLog.append(frameDir, "seg-001",
      Seq(encodeBegin(Begin(200L, 0L, 2L)), encodeRelation(rel),
        upd(1L, "rex II"), del(2L),
        encodeCommit(Commit(0, 200L, 201L, 0L))))
    val q2 = FrameStreamPipeline.start(spark, frameDir, sink, wm, ckpt, "1 seconds")
    try q2.processAllAvailable() finally q2.stop()
    assert(wm.position.contains(200L))

    val table = graft.model.TableSchema(1L, "public", "pets", Seq(
      graft.model.ColumnSpec("id", PgTypes.Int8, key = true),
      graft.model.ColumnSpec("name", PgTypes.Text)))
    val latest = sink.latestView(table)
      .select("id", "name").as[(Long, String)].collect().toMap
    assert(latest == Map(1L -> "rex II"))
    // raw keeps full history: 2 inserts + 1 update + 1 delete
    assert(sink.raw(table).count() == 4)
  }

  test("multi-table frames route to separate raw tables in one epoch") {
    val frameDir = tmp(); val ckpt = tmp(); val wh = tmp()
    val sink = new WarehouseSink(spark, wh)
    val wm = new CdcPipeline.AckWatermark
    val rel2 = Relation(2L, "public", "owners", 'd'.toByte, Seq(
      RelationColumn(key = true, "id", PgTypes.Int8, -1),
      RelationColumn(key = false, "email", PgTypes.Varchar, -1)))
    PgOutputFrameLog.append(frameDir, "seg-000",
      Seq(encodeBegin(Begin(300L, 0L, 3L)),
        encodeRelation(rel), encodeRelation(rel2),
        ins(10L, "buddy"),
        encodeInsert(Insert(2L, TupleData(Seq(cell("7"), cell("a@b.c"))))),
        encodeCommit(Commit(0, 300L, 301L, 0L))))
    val q = FrameStreamPipeline.start(spark, frameDir, sink, wm, ckpt, "1 seconds")
    try q.processAllAvailable() finally q.stop()

    val pets = graft.model.TableSchema(1L, "public", "pets", Seq(
      graft.model.ColumnSpec("id", PgTypes.Int8, key = true),
      graft.model.ColumnSpec("name", PgTypes.Text)))
    val owners = graft.model.TableSchema(2L, "public", "owners", Seq(
      graft.model.ColumnSpec("id", PgTypes.Int8, key = true),
      graft.model.ColumnSpec("email", PgTypes.Varchar)))
    assert(sink.latestView(pets).count() == 1)
    assert(sink.latestView(owners)
      .select("email").as[String].collect().toSeq == Seq("a@b.c"))
    assert(wm.position.contains(300L))
  }

  /** Runs each flush-epoch insert under a job group of its own, so a
    * listener can tell the jobs an insert starts. */
  final class GroupedInserts(sink: Sink) extends Sink {
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def handleSchema(schema: TableSchema) = sink.handleSchema(schema)
    def insert(table: TableSchema, batch: DataFrame) = sink.insert(table, batch)
    override def insertCounted(table: TableSchema, batch: DataFrame,
        known: InsertResult): InsertResult = {
      val sc = spark.sparkContext
      val outer = sc.getLocalProperty("spark.jobGroup.id")
      val group = s"insert-${java.util.UUID.randomUUID()}"
      groups.add(group)
      sc.setLocalProperty("spark.jobGroup.id", group)
      try sink.insertCounted(table, batch, known)
      finally sc.setLocalProperty("spark.jobGroup.id", outer)
    }
    def truncate(table: TableSchema, at: java.sql.Timestamp,
        lsn: Option[Long], sequence: Option[Long]) = sink.truncate(table, at, lsn, sequence)
  }

  test("each table's flush-epoch batch lands as one parquet file") {
    val frameDir = tmp(); val ckpt = tmp(); val wh = tmp()
    val sink = new WarehouseSink(spark, wh)
    val grouped = new GroupedInserts(sink)
    val wm = new CdcPipeline.AckWatermark
    val rel2 = Relation(2L, "public", "owners", 'd'.toByte, Seq(
      RelationColumn(key = true, "id", PgTypes.Int8, -1),
      RelationColumn(key = false, "email", PgTypes.Varchar, -1)))
    // one transaction, one epoch, 12 rows per table: more rows than
    // the session's 4 cores, so a batch split per core would write
    // 4 files per table
    val ids = 1L to 12L
    PgOutputFrameLog.append(frameDir, "seg-000",
      Seq(encodeBegin(Begin(400L, 0L, 4L)),
        encodeRelation(rel), encodeRelation(rel2)) ++
        ids.map(i => ins(i, s"pet$i")) ++
        ids.map(i => encodeInsert(Insert(2L,
          TupleData(Seq(cell(i.toString), cell(s"o$i@b.c")))))) ++
        Seq(encodeCommit(Commit(0, 400L, 401L, 0L))))
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    val started = SparkJobs.groupsDuring(spark.sparkContext) {
      q = FrameStreamPipeline.start(spark, frameDir, grouped, wm, ckpt, "1 seconds")
      try q.processAllAvailable() finally q.stop()
    }
    assert(q.recentProgress.count(_.numInputRows > 0) == 1)
    // the warehouse writes the pipeline's driver-held batches itself:
    // neither table's insert starts a Spark job
    assert(grouped.groups.size == 2)
    assert(started.count(g => grouped.groups.contains(g)) == 0)

    val pets = graft.model.TableSchema(1L, "public", "pets", Seq(
      graft.model.ColumnSpec("id", PgTypes.Int8, key = true),
      graft.model.ColumnSpec("name", PgTypes.Text)))
    val owners = graft.model.TableSchema(2L, "public", "owners", Seq(
      graft.model.ColumnSpec("id", PgTypes.Int8, key = true),
      graft.model.ColumnSpec("email", PgTypes.Varchar)))
    for (table <- Seq(pets, owners)) {
      val dates = new java.io.File(sink.rawPath(table)).listFiles()
        .filter(_.getName.startsWith("_date=")).toSeq
      assert(dates.size == 1, s"${table.ref.qualified}: $dates")
      val parts = dates.head.listFiles().map(_.getName)
        .filter(n => n.startsWith("part-") && n.endsWith(".parquet")).toSeq
      assert(parts.size == 1, s"${table.ref.qualified}: $parts")
      assert(sink.latestView(table).count() == ids.size)
    }
    assert(wm.position.contains(400L))
  }

  test("flush epochs commit their checkpoint without launching a process") {
    val frameDir = tmp(); val ckpt = tmp(); val wh = tmp()
    val sink = new WarehouseSink(spark, wh)
    val wm = new CdcPipeline.AckWatermark
    // three 4-frame transactions; maxFramesPerTrigger=4 makes each
    // one flush epoch, so the checkpoint commits three times. The
    // second commits a day later than the first, so its rows open a
    // second _date directory; the third truncates, which writes a
    // marker table.
    val day = 86400000000L // pg commit times are micros since 2000-01-01
    def txn(i: Long, change: Array[Byte]) =
      Seq(encodeBegin(Begin(100L * i, day * (i - 1), i)), encodeRelation(rel),
        change, encodeCommit(Commit(0, 100L * i, 100L * i + 1, day * (i - 1))))
    PgOutputFrameLog.append(frameDir, "seg-000",
      txn(1L, ins(1L, "pet1")) ++ txn(2L, ins(2L, "pet2")) ++
        txn(3L, encodeTruncate(Truncate(0, Seq(1L)))))
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    val launched = ProcessLaunches.during {
      q = FrameStreamPipeline.start(spark, frameDir, sink, wm, ckpt,
        "100 milliseconds", maxFramesPerTrigger = Some(4L))
      try q.processAllAvailable() finally q.stop()
    }
    assert(q.recentProgress.count(_.numInputRows > 0) == 3)
    assert(wm.position.contains(300L))
    // Spark's default checkpoint manager runs chmod + readlink for
    // each offsets and commits file (~20 launches per epoch without
    // Hadoop's native library), and Hadoop's LocalFileSystem runs
    // chmod for each parquet file, .crc and directory the warehouse
    // publishes
    assert(launched.isEmpty, launched.take(5))
    for (log <- Seq("offsets", "commits")) {
      val names = new java.io.File(ckpt, log).list().toSet
      assert(Set("0", "1", "2").subsetOf(names), s"$log: $names")
      assert(!names.exists(_.endsWith(".crc")), s"$log: $names")
    }
    val pets = graft.model.TableSchema(1L, "public", "pets", Seq(
      graft.model.ColumnSpec("id", PgTypes.Int8, key = true),
      graft.model.ColumnSpec("name", PgTypes.Text)))
    val dates = new java.io.File(sink.rawPath(pets)).list().filter(_.startsWith("_date="))
    assert(dates.toSet == Set("_date=2000-01-01", "_date=2000-01-02"), dates.toSeq)
    assert(sink.raw(pets).count() == 2)
    assert(sink.latestView(pets).count() == 0)
  }

  test("flush epochs read their frames on the driver and still report their input rows") {
    val frameDir = tmp(); val ckpt = tmp(); val wh = tmp()
    val sink = new WarehouseSink(spark, wh)
    val wm = new CdcPipeline.AckWatermark
    PgOutputFrameLog.append(frameDir, "seg-000", (1L to 3L).flatMap(i =>
      Seq(encodeBegin(Begin(100L * i, 0L, i)), encodeRelation(rel),
        ins(i, s"pet$i"), encodeCommit(Commit(0, 100L * i, 100L * i + 1, 0L)))))
    val listener = new graft.streaming.CdcQueryListener
    spark.streams.addListener(listener)
    try {
      var q: org.apache.spark.sql.streaming.StreamingQuery = null
      val started = SparkJobs.groupsDuring(spark.sparkContext) {
        q = FrameStreamPipeline.start(spark, frameDir, sink, wm, ckpt,
          "100 milliseconds", maxFramesPerTrigger = Some(4L))
        try q.processAllAvailable() finally q.stop()
      }
      // the only job is SparkJobs' own probe, started after the query
      // stopped; collecting each epoch's frames would start three more
      assert(started.size == 1, started)
      assert(q.recentProgress.map(_.numInputRows).toSeq == Seq(4L, 4L, 4L))
      assert(wm.position.contains(300L))
      // progress events reach listeners asynchronously
      val deadline = System.currentTimeMillis() + 10000
      def stats = listener.statsOf(q.name)
      while (stats.forall(_.batches < 3) && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(stats.map(s => (s.batches, s.rows)).contains((3L, 12L)), stats)
    } finally spark.streams.removeListener(listener)
  }

  test("a truncate-only transaction still advances the ack watermark") {
    val frameDir = tmp(); val ckpt = tmp(); val wh = tmp()
    val sink = new WarehouseSink(spark, wh)
    val wm = new CdcPipeline.AckWatermark
    // txn 1 (5 frames) inserts two pets; txn 2 (3 frames) carries no
    // row frame but the 'T'. maxFramesPerTrigger=5 puts each in its
    // own epoch, so epoch 2 has no insert whose LSN could be acked
    PgOutputFrameLog.append(frameDir, "seg-000",
      Seq(encodeBegin(Begin(100L, 0L, 1L)), encodeRelation(rel),
        ins(1L, "rex"), ins(2L, "whiskers"),
        encodeCommit(Commit(0, 100L, 101L, 0L)),
        encodeBegin(Begin(200L, 0L, 2L)),
        encodeTruncate(Truncate(0, Seq(1L))),
        encodeCommit(Commit(0, 200L, 201L, 0L))))
    val q = FrameStreamPipeline.start(spark, frameDir, sink, wm, ckpt,
      "1 seconds", maxFramesPerTrigger = Some(5L))
    try q.processAllAvailable() finally q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) == 2)
    assert(wm.position.contains(200L))

    val pets = graft.model.TableSchema(1L, "public", "pets", Seq(
      graft.model.ColumnSpec("id", PgTypes.Int8, key = true),
      graft.model.ColumnSpec("name", PgTypes.Text)))
    assert(sink.latestView(pets).count() == 0)
    assert(sink.raw(pets).select("after.id").as[Long].collect().toSet == Set(1L, 2L))
  }

  test("a batch ending mid-transaction does not ack it until its Commit is decoded") {
    val sink = new WarehouseSink(spark, tmp())
    val wm = new CdcPipeline.AckWatermark
    val builder = new ChangelogBuilder
    def epoch(from: Long, frames: Array[Byte]*): Unit =
      FrameStreamPipeline.processBatch(spark,
        frames.zipWithIndex.map { case (f, i) => (from + i, f) }
          .toDF("position", "frame"),
        builder, sink, wm)
    // txn 50 commits; txn 100 is cut after Begin + 2 inserts
    epoch(0L, encodeBegin(Begin(50L, 0L, 1L)), encodeRelation(rel),
      ins(1L, "rex"), encodeCommit(Commit(0, 50L, 51L, 0L)),
      encodeBegin(Begin(100L, 0L, 2L)), ins(2L, "whiskers"), ins(3L, "tom"))
    assert(wm.position.contains(50L))
    epoch(7L, ins(4L, "felix"), encodeCommit(Commit(0, 100L, 101L, 0L)))
    assert(wm.position.contains(100L))
    val pets = graft.model.TableSchema(1L, "public", "pets", Seq(
      graft.model.ColumnSpec("id", PgTypes.Int8, key = true),
      graft.model.ColumnSpec("name", PgTypes.Text)))
    assert(sink.latestView(pets).count() == 4)
  }

  test("retainLog drops segments behind the read position as epochs advance") {
    val frameDir = tmp(); val ckpt = tmp(); val wh = tmp()
    val sink = new WarehouseSink(spark, wh)
    val wm = new CdcPipeline.AckWatermark
    // two 5-frame transactions in two segments; maxFramesPerTrigger=5
    // forces one epoch per segment, so epoch 2's start position (5)
    // lets retention drop segment 0
    def seg(name: String, lsn: Long, a: Long, b: Long): Unit =
      PgOutputFrameLog.append(frameDir, name,
        Seq(encodeBegin(Begin(lsn, 0L, lsn)), encodeRelation(rel),
          ins(a, s"pet$a"), ins(b, s"pet$b"),
          encodeCommit(Commit(0, lsn, lsn + 1, 0L))))
    seg("seg-000", 100L, 1L, 2L)
    seg("seg-001", 200L, 3L, 4L)
    val q = FrameStreamPipeline.start(spark, frameDir, sink, wm, ckpt,
      "1 seconds", maxFramesPerTrigger = Some(5L), retainLog = true)
    try q.processAllAvailable() finally q.stop()
    assert(wm.position.contains(200L))

    // segment 0 is gone, the floor records its 5 frames, and the
    // warehouse kept everything that flowed through
    assert(!new java.io.File(frameDir, "seg-000").exists())
    assert(PgOutputFrameLog.retainInfo(frameDir) == (5L, "seg-000"))
    assert(PgOutputFrameLog.frameCount(frameDir) == 10L)
    val pets = graft.model.TableSchema(1L, "public", "pets", Seq(
      graft.model.ColumnSpec("id", PgTypes.Int8, key = true),
      graft.model.ColumnSpec("name", PgTypes.Text)))
    assert(sink.latestView(pets).count() == 4)

    // the same checkpoint keeps consuming new segments after retention
    seg("seg-002", 300L, 5L, 6L)
    val q2 = FrameStreamPipeline.start(spark, frameDir, sink, wm, ckpt,
      "1 seconds", maxFramesPerTrigger = Some(5L), retainLog = true)
    try q2.processAllAvailable() finally q2.stop()
    assert(wm.position.contains(300L))
    assert(sink.latestView(pets).count() == 6)
    // and the floor advanced past segment 1
    assert(PgOutputFrameLog.retainInfo(frameDir) == (10L, "seg-001"))
  }
}
