package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.graftbridge.NioLocalFileSystem
import org.scalatest.funsuite.AnyFunSuite

import graft.model.{ColumnSpec, Envelope, Operation, PgTypes, TableSchema}
import graft.sinks.{InsertResult, WarehouseSink}

/** The warehouse's flush-epoch insert writes driver-held rows on the
  * driver: no Spark job, and files that read back exactly like the
  * distributed write's. A crash mid-write leaves only a hidden file,
  * which every reader and maintenance step ignores.
  */
class DriverWriteSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  def tmp(): String = Files.createTempDirectory("graft-driver-write").toString

  val lines = TableSchema(1L, "public", "lines", Seq(
    ColumnSpec("order_id", PgTypes.Int8, key = true),
    ColumnSpec("line", PgTypes.Int4, key = true),
    ColumnSpec("note", PgTypes.Text)))
  private val schema = Envelope.schemaFor(lines.payloadStruct, withToastMarker = true)

  /** Envelope rows over shuffled keys on two dates: inserts, updates
    * (some with an unchanged-TOAST `note`) and deletes. */
  private def envelopes(seed: Int, days: Seq[String]): Seq[Row] = {
    val rnd = new scala.util.Random(seed)
    rnd.shuffle((1L to 12L).flatMap(o => (1 to 2).map(o -> _))).zipWithIndex.map {
      case ((o, l), i) =>
        val ts = java.sql.Timestamp.valueOf(s"${days(i % days.size)} 0${i % 10}:00:00")
        val cells = Map("order_id" -> Long.box(o), "line" -> Int.box(l),
          "note" -> s"note-$o-$l-$seed")
        val img = Row.fromSeq(lines.payloadStruct.fieldNames.toSeq.map(cells))
        val lsn = Long.box(1000L * seed + i)
        i % 4 match {
          case 0 => Row(ts, lsn, Long.box(1L), Operation.Insert, null, img, null)
          case 1 => Row(ts, lsn, Long.box(1L), Operation.Delete, img, null, null)
          case 2 => Row(ts, lsn, Long.box(1L), Operation.Update, img, img, Seq("note"))
          case _ => Row(ts, lsn, Long.box(1L), Operation.Update, img, img, null)
        }
    }
  }

  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.List.of(rows: _*), schema)

  private def known(rows: Seq[Row]) =
    InsertResult(rows.size.toLong, Some(rows.map(_.getLong(1)).max))

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def jobsDuring(body: => Unit): Int = SparkJobs.startedBy(spark.sparkContext)(body)

  private def dateDirs(sink: WarehouseSink): Seq[java.io.File] =
    new java.io.File(sink.rawPath(lines)).listFiles()
      .filter(_.getName.startsWith("_date=")).toSeq

  test("the flush-epoch insert starts no Spark job and reads back like the Spark write") {
    val rows = envelopes(1, Seq("2024-03-01", "2024-03-02"))
    val distributed = new WarehouseSink(spark, tmp())
    val driver = new WarehouseSink(spark, tmp())
    distributed.insert(lines, frame(rows))
    val batch = frame(rows).coalesce(1)
    var result: InsertResult = null
    assert(jobsDuring { result = driver.insertCounted(lines, batch, known(rows)) } == 0)
    assert(result == known(rows))

    assert(driver.raw(lines).schema == distributed.raw(lines).schema)
    assert(sorted(driver.raw(lines)) == sorted(distributed.raw(lines)))
    assert(sorted(driver.latestView(lines)) == sorted(distributed.latestView(lines)))
    assert(driver.latestView(lines).count() > 0)

    // a batch only a Spark job can compute keeps the distributed write
    val shuffled = new WarehouseSink(spark, tmp())
    assert(jobsDuring { shuffled.insertCounted(lines, frame(rows).repartition(2), known(rows)) } > 0)
    assert(sorted(shuffled.raw(lines)) == sorted(distributed.raw(lines)))

    val dirs = dateDirs(driver)
    assert(dirs.map(_.getName).toSet == Set("_date=2024-03-01", "_date=2024-03-02"))
    for (dir <- dirs) {
      val parts = dir.listFiles().map(_.getName)
        .filter(n => n.startsWith("part-") && n.endsWith(".parquet")).toSeq
      assert(parts.size == 1, s"$dir: $parts")
      val keys = spark.read.parquet(new java.io.File(dir, parts.head).toString)
        .select("_pk_order_id", "_pk_line").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSeq
      assert(keys.nonEmpty && keys == keys.sorted, s"$dir: $keys")
    }
  }

  test("a torn driver write is invisible to raw, latestView, compact and vacuum") {
    val sink = new WarehouseSink(spark, tmp())
    val first = envelopes(2, Seq("2024-03-01", "2024-03-02"))
    sink.insertCounted(lines, frame(first).coalesce(1), known(first))
    val raw = sorted(sink.raw(lines))
    val latest = sorted(sink.latestView(lines))

    // what a crash while writing leaves: a hidden, half-written file
    // beside the published part file
    val torn = new java.io.File(sink.rawPath(lines),
      s"_date=2024-03-01/.part-00000-${java.util.UUID.randomUUID()}.c000.snappy.parquet.inprogress")
    Files.write(torn.toPath, "PAR1 torn".getBytes("UTF-8"))

    assert(sorted(sink.raw(lines)) == raw)
    assert(sorted(sink.latestView(lines)) == latest)
    sink.compact(lines)
    assert(sorted(sink.latestView(lines)) == latest)

    // the next epoch's write lands beside it
    val next = envelopes(3, Seq("2024-03-03"))
    sink.insertCounted(lines, frame(next).coalesce(1), known(next))
    assert(sink.raw(lines).count() == first.size + next.size)
    val afterNext = sorted(sink.latestView(lines))

    // the compaction watermark covers 2024-03-02: only 2024-03-01,
    // torn file and all, is dropped, and the view does not move
    assert(sink.vacuum(lines, java.sql.Date.valueOf("2024-03-03")) == 1L)
    assert(!torn.exists())
    assert(sorted(sink.latestView(lines)) == afterNext)
  }

  /** The permissions of each kind of entry under `dirs` and their files. */
  private def permissions(dirs: Seq[java.io.File]): Map[String, Set[String]] =
    dirs.flatMap(dir => (dir +: dir.listFiles().toSeq).map { f =>
      val kind = if (f.isDirectory) "dir" else if (f.getName.endsWith(".crc")) "crc" else "data"
      kind -> PosixFilePermissions.toString(Files.getPosixFilePermissions(f.toPath))
    }).groupBy(_._1).map { case (kind, ps) => kind -> ps.map(_._2).toSet }

  test("warehouse writes keep Hadoop's permissions and checksums, with no process launched") {
    val rows = envelopes(4, Seq("2024-03-01", "2024-03-02"))
    val distributed = new WarehouseSink(spark, tmp())
    val driver = new WarehouseSink(spark, tmp())
    // the import's Spark write and the flush epoch's driver write
    val launched = ProcessLaunches.during {
      distributed.insert(lines, frame(rows))
      driver.insertCounted(lines, frame(rows).coalesce(1), known(rows))
    }
    assert(launched.isEmpty, launched.take(5))
    // the bits Hadoop's LocalFileSystem gives under the conf's umask
    val conf = spark.sessionState.newHadoopConf()
    val umask = FsPermission.getUMask(conf)
    val expected = Map(
      "dir" -> Set(FsPermission.getDirDefault.applyUMask(umask).toString),
      "data" -> Set(FsPermission.getFileDefault.applyUMask(umask).toString),
      "crc" -> Set(FsPermission.getFileDefault.applyUMask(umask).toString))
    assert(permissions(dateDirs(driver)) == expected)
    assert(permissions(dateDirs(distributed)) == expected)

    // every data file reads back through Hadoop's LocalFileSystem
    // with its checksum verified
    val verifying = new LocalFileSystem
    try {
      verifying.initialize(new java.net.URI("file:///"), conf)
      verifying.setVerifyChecksum(true)
      for (dir <- dateDirs(driver) ++ dateDirs(distributed);
           f <- dir.listFiles() if !f.getName.endsWith(".crc")) {
        assert(new java.io.File(dir, s".${f.getName}.crc").isFile, f)
        val in = verifying.open(new Path(f.toURI))
        try assert(in.readAllBytes().sameElements(Files.readAllBytes(f.toPath)), f)
        finally in.close()
      }
    } finally verifying.close()
    assert(sorted(driver.raw(lines)) == sorted(distributed.raw(lines)))

    // the write's filesystem stayed in its own conf: the session's
    // cached local filesystem is still the one the classpath registers
    val cached = new Path(driver.rawPath(lines)).getFileSystem(conf)
    assert(cached eq FileSystem.get(new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration))
    assert(!cached.isInstanceOf[NioLocalFileSystem])
    val fresh = FileSystem.newInstance(new java.net.URI("file:///"), conf)
    try assert(cached.getClass == fresh.getClass) finally fresh.close()
  }

  test("the nio local filesystem sets the permission bits Hadoop's chmod sets") {
    // a umask other than the default 022, so bits that ignored the
    // requested permission would show
    val conf = new org.apache.hadoop.conf.Configuration(spark.sparkContext.hadoopConfiguration)
    conf.set("fs.permissions.umask-mode", "027")
    val nio = new NioLocalFileSystem
    nio.initialize(new java.net.URI("file:///"), conf)
    val hadoop = FileSystem.newInstance(new java.net.URI("file:///"), conf)
    def written(fs: FileSystem): Map[String, Set[String]] = {
      val dir = new java.io.File(tmp(), "_date=2024-03-01")
      val out = fs.create(new Path(new java.io.File(dir, "part").toURI))
      try out.write(Array[Byte](1, 2, 3)) finally out.close()
      permissions(Seq(dir))
    }
    try {
      var viaNio: Map[String, Set[String]] = null
      assert(ProcessLaunches.during { viaNio = written(nio) }.isEmpty)
      assert(viaNio == Map(
        "dir" -> Set("rwxr-x---"), "data" -> Set("rw-r-----"), "crc" -> Set("rw-r-----")))
      assert(viaNio == written(hadoop))
    } finally { nio.close(); hadoop.close() }
  }
}
