package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.model.{ColumnSpec, Envelope, Operation, PgTypes, TableSchema}
import graft.sinks.WarehouseSink

/** Warehouse retention: `vacuum` drops raw `_date` partitions the
  * compacted baseline covers — partition expiration with the engine's
  * fail-loudly floor. The latest view must be indistinguishable
  * before and after, and time travel below the compaction watermark
  * must become an error, never a silently wrong answer.
  */
class VacuumSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  def tmp(): String = Files.createTempDirectory("graft-vacuum").toString

  val pets = TableSchema(1L, "public", "pets", Seq(
    ColumnSpec("id", PgTypes.Int8, key = true),
    ColumnSpec("name", PgTypes.Text)))
  private val payload = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("name",
      org.apache.spark.sql.types.StringType)))

  private def envBatch(ts: String, lsn: Long, op: String,
      id: Long, name: String) =
    spark.createDataFrame(
      java.util.List.of(Row(
        java.sql.Timestamp.valueOf(ts), Long.box(lsn), Long.box(1L),
        op, null, Row(Long.box(id), name))),
      Envelope.schemaFor(payload))

  private def dateDirs(wh: String): Set[String] =
    new java.io.File(s"$wh/raw/public.pets").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("_date="))
      .map(_.getName).toSet

  test("vacuum drops covered partitions; the latest view is unchanged; pre-watermark asOf fails") {
    val wh = tmp()
    val sink = new WarehouseSink(spark, wh)
    sink.insert(pets, envBatch("2024-01-01 08:00:00", 10L, Operation.Insert, 1L, "a"))
    sink.insert(pets, envBatch("2024-01-02 08:00:00", 20L, Operation.Insert, 2L, "b"))
    sink.insert(pets, envBatch("2024-01-03 08:00:00", 30L, Operation.Update, 1L, "a2"))

    // vacuum before compaction: refused — there is no baseline to
    // hold the dropped rows' state
    assertThrows[IllegalStateException](
      sink.vacuum(pets, java.sql.Date.valueOf("2024-01-03")))

    sink.compact(pets) // watermark = (30, 2024-01-03 08:00:00)
    val before = sink.latestView(pets)
      .select("id", "name").as[(Long, String)].collect().toSet

    val dropped = sink.vacuum(pets, java.sql.Date.valueOf("2024-01-03"))
    assert(dropped == 2L)
    assert(dateDirs(wh) == Set("_date=2024-01-03"))
    assert(sink.retentionHorizon(pets) == java.sql.Date.valueOf("2024-01-03"))

    // k2's only row lived in a dropped partition: the view must now
    // serve it from the baseline, byte-for-byte as before
    val after = sink.latestView(pets)
      .select("id", "name").as[(Long, String)].collect().toSet
    assert(after == before)
    assert(after == Set(1L -> "a2", 2L -> "b"))

    // time travel below the watermark is gone — loudly
    assertThrows[IllegalArgumentException](
      sink.asOf(pets, java.sql.Timestamp.valueOf("2024-01-02 12:00:00")))
    // at or past the watermark it still answers, baseline-aware
    val atWm = sink.asOf(pets, java.sql.Timestamp.valueOf("2024-01-03 08:00:00"))
      .select("id", "name").as[(Long, String)].collect().toSet
    assert(atWm == Set(1L -> "a2", 2L -> "b"))

    // a second vacuum with nothing new to drop is a no-op
    assert(sink.vacuum(pets, java.sql.Date.valueOf("2024-01-03")) == 0L)
  }

  test("post-vacuum writes keep flowing: view and watermark-bounded asOf stay correct") {
    val wh = tmp()
    val sink = new WarehouseSink(spark, wh)
    sink.insert(pets, envBatch("2024-01-01 08:00:00", 10L, Operation.Insert, 1L, "a"))
    sink.insert(pets, envBatch("2024-01-02 08:00:00", 20L, Operation.Insert, 2L, "b"))
    sink.compact(pets)
    assert(sink.vacuum(pets, java.sql.Date.valueOf("2024-01-02")) == 1L)

    // fresh changes after retention: an update to a vacuumed key and
    // a brand-new key
    sink.insert(pets, envBatch("2024-01-05 08:00:00", 50L, Operation.Update, 1L, "a5"))
    sink.insert(pets, envBatch("2024-01-06 08:00:00", 60L, Operation.Insert, 3L, "c"))

    val latest = sink.latestView(pets)
      .select("id", "name").as[(Long, String)].collect().toSet
    assert(latest == Set(1L -> "a5", 2L -> "b", 3L -> "c"))

    // asOf between the watermark and the new rows sees pre-update state
    val mid = sink.asOf(pets, java.sql.Timestamp.valueOf("2024-01-04 00:00:00"))
      .select("id", "name").as[(Long, String)].collect().toSet
    assert(mid == Set(1L -> "a", 2L -> "b"))
    // asOf after the update sees it, but not the later insert
    val later = sink.asOf(pets, java.sql.Timestamp.valueOf("2024-01-05 12:00:00"))
      .select("id", "name").as[(Long, String)].collect().toSet
    assert(later == Set(1L -> "a5", 2L -> "b"))
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame) =
    df.select("id", "name").as[(Long, String)].collect().toSet

  test("compact -> vacuum -> insert -> compact keeps keys whose only rows were vacuumed") {
    val wh = tmp()
    val sink = new WarehouseSink(spark, wh)
    sink.insert(pets, envBatch("2024-01-01 08:00:00", 10L, Operation.Insert, 1L, "a"))
    sink.insert(pets, envBatch("2024-01-02 08:00:00", 20L, Operation.Insert, 2L, "b"))
    sink.insert(pets, envBatch("2024-01-03 08:00:00", 30L, Operation.Update, 1L, "a2"))
    sink.compact(pets)
    assert(sink.vacuum(pets, java.sql.Date.valueOf("2024-01-03")) == 2L)
    sink.insert(pets, envBatch("2024-01-04 08:00:00", 40L, Operation.Insert, 3L, "c"))
    // the second baseline folds from the first: key 2 lives only there
    sink.compact(pets)
    val want = Set(1L -> "a2", 2L -> "b", 3L -> "c")
    assert(rowsOf(sink.latestView(pets)) == want)
    assert(rowsOf(sink.asOf(pets,
      java.sql.Timestamp.valueOf("2024-01-04 08:00:00"))) == want)
    // published generations: only the newest survives
    val gens = new java.io.File(s"$wh/compacted/public.pets").list().toSet
    assert(gens == Set("gen-2"), gens)
  }

  test("a crash at any vacuum or compaction step leaves a horizon and a baseline") {
    val wh = tmp()
    val sink = new WarehouseSink(spark, wh)
    sink.insert(pets, envBatch("2024-01-01 08:00:00", 10L, Operation.Insert, 1L, "a"))
    sink.insert(pets, envBatch("2024-01-02 08:00:00", 20L, Operation.Insert, 2L, "b"))
    sink.insert(pets, envBatch("2024-01-03 08:00:00", 30L, Operation.Update, 1L, "a2"))
    sink.compact(pets)
    assert(sink.vacuum(pets, java.sql.Date.valueOf("2024-01-02")) == 1L)
    sink.insert(pets, envBatch("2024-01-04 08:00:00", 40L, Operation.Insert, 3L, "c"))
    sink.compact(pets) // watermark = (40, 2024-01-04 08:00:00)
    val want = Set(1L -> "a2", 2L -> "b", 3L -> "c")
    val belowWm = java.sql.Timestamp.valueOf("2024-01-03 12:00:00")
    def holds(horizon: String): Unit = {
      assert(sink.retentionHorizon(pets) == java.sql.Date.valueOf(horizon))
      assertThrows[IllegalArgumentException](sink.asOf(pets, belowWm))
      assert(rowsOf(sink.latestView(pets)) == want)
    }
    // a second vacuum (retain from 2024-01-04) commits its horizon
    // marker, then drops _date=2024-01-02 and _date=2024-01-03.
    // Crash before the marker: the first vacuum's horizon still holds.
    holds("2024-01-02")
    // crash after the marker, before any drop
    val markers = new java.io.File(s"$wh/compacted/public.pets.horizon")
    assert(new java.io.File(markers, "2024-01-04").createNewFile())
    holds("2024-01-04")
    // crash after one of the two drops
    val rawDir = s"$wh/raw/public.pets"
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$rawDir/_date=2024-01-02"))
    holds("2024-01-04")
    // the re-run finishes the drop and keeps the horizon
    assert(sink.vacuum(pets, java.sql.Date.valueOf("2024-01-04")) == 1L)
    assert(dateDirs(wh) == Set("_date=2024-01-04"))
    holds("2024-01-04")

    // a compaction that crashed while writing its generation, before
    // its _watermark (or partway through it): readers skip it and the
    // next run sweeps it
    val dir = new java.io.File(s"$wh/compacted/public.pets")
    val torn = new java.io.File(dir, "gen-7")
    assert(torn.mkdirs())
    java.nio.file.Files.writeString(torn.toPath.resolve("part-0.parquet"), "torn")
    holds("2024-01-04")
    java.nio.file.Files.writeString(torn.toPath.resolve("_watermark"), "50\n")
    holds("2024-01-04")
    sink.compact(pets)
    assert(!torn.exists())
    assert(dir.list().filter(_.startsWith("gen-")).toSeq == Seq("gen-8"))
    holds("2024-01-04")
    // crashed after publishing, before deleting the older generation:
    // readers take the newest, the next run deletes the rest
    val newest = dir.list().filter(_.startsWith("gen-")).maxBy(_.stripPrefix("gen-").toLong)
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(dir, newest),
      new java.io.File(dir, "gen-1"))
    holds("2024-01-04")
    sink.compact(pets)
    assert(dir.list().count(_.startsWith("gen-")) == 1)
    holds("2024-01-04")
  }

  test("a warehouse in the older flat-baseline layout fails by name") {
    val wh = tmp()
    val sink = new WarehouseSink(spark, wh)
    sink.insert(pets, envBatch("2024-01-01 08:00:00", 10L, Operation.Insert, 1L, "a"))
    val horizon = new java.io.File(s"$wh/compacted/public.pets.horizon")
    assert(horizon.getParentFile.mkdirs())
    java.nio.file.Files.writeString(horizon.toPath, "2024-01-01")
    for (read <- Seq[() => Any](() => sink.latestView(pets),
        () => sink.compact(pets), () => sink.retentionHorizon(pets))) {
      val e = intercept[IllegalArgumentException](read())
      assert(e.getMessage.contains("older flat-baseline"), e.getMessage)
    }
    assert(horizon.delete())
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$wh/compacted/public.pets.watermark"),
      "10\n2024-01-01 08:00:00")
    val e = intercept[IllegalArgumentException](sink.latestView(pets))
    assert(e.getMessage.contains("older flat-baseline"), e.getMessage)
  }
}
