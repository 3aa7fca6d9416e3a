package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.LocalCheckpointFileManager

class LocalCheckpointFileManagerSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  def tmp(): String = Files.createTempDirectory("graft-ckpt").toString
  def manager(dir: String) =
    new LocalCheckpointFileManager(new Path(dir), new Configuration())
  def names(dir: String): Set[String] = new java.io.File(dir).list().toSet
  def read(dir: String, name: String): String =
    new String(Files.readAllBytes(Paths.get(dir, name)), UTF_8)
  def write(m: LocalCheckpointFileManager, p: Path, text: String,
      overwrite: Boolean): Unit = {
    val out = m.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  test("a file is invisible until close, and cancel leaves nothing behind") {
    val dir = tmp(); val m = manager(dir)
    val out = m.createAtomic(new Path(dir, "0"), overwriteIfPossible = false)
    out.write("v1".getBytes(UTF_8))
    out.flush()
    assert(!m.exists(new Path(dir, "0")))
    out.close()
    assert(names(dir) == Set("0") && read(dir, "0") == "v1")

    val cancelled = m.createAtomic(new Path(dir, "1"), overwriteIfPossible = false)
    cancelled.write("v2".getBytes(UTF_8))
    cancelled.cancel()
    assert(names(dir) == Set("0"))
  }

  test("a no-overwrite publish onto an existing file fails and keeps the old bytes") {
    val dir = tmp(); val m = manager(dir)
    val p = new Path(dir, "0")
    write(m, p, "first", overwrite = false)
    intercept[FileAlreadyExistsException](
      write(m, p, "second", overwrite = false))
    assert(names(dir) == Set("0") && read(dir, "0") == "first")
  }

  test("an overwrite replaces the file and drops a stale checksum") {
    val dir = tmp(); val m = manager(dir)
    val p = new Path(dir, "metadata")
    // Hadoop's LocalFileSystem writes a .crc sibling beside the data
    val fs = p.getFileSystem(new Configuration())
    val old = fs.create(p)
    old.write("old".getBytes(UTF_8))
    old.close()
    assert(names(dir) == Set("metadata", ".metadata.crc"))
    write(m, p, "replaced", overwrite = true)
    assert(names(dir) == Set("metadata"))
    // read back through LocalFileSystem: a stale .crc would fail it
    val in = m.open(p)
    try assert(new String(in.readAllBytes(), UTF_8) == "replaced")
    finally in.close()
  }

  test("a query resumes at the right offset on a checkpoint Spark's default manager wrote") {
    val input = tmp(); val ckpt = tmp()
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    def runOnce(): Unit = spark.readStream.text(input).writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        batch.as[String].collect().foreach(v => seen.add(id -> v))
      }
      .start().awaitTermination()
    def collected = scala.jdk.CollectionConverters
      .CollectionHasAsScala(seen).asScala.toSeq

    Files.write(Paths.get(input, "a.txt"), "a\n".getBytes(UTF_8))
    val key = LocalCheckpointFileManager.ConfKey
    val installed = spark.conf.get(key)
    spark.conf.unset(key)
    try runOnce() finally spark.conf.set(key, installed)
    assert(collected == Seq(0L -> "a"))
    assert(names(s"$ckpt/offsets").contains(".0.crc"),
      "the first run went through Spark's default manager")

    Files.write(Paths.get(input, "b.txt"), "b\n".getBytes(UTF_8))
    runOnce()
    assert(collected == Seq(0L -> "a", 1L -> "b"))
    assert(names(s"$ckpt/offsets").filterNot(_.startsWith(".")) == Set("0", "1"))
    assert(!names(s"$ckpt/commits").contains(".1.crc"))
  }
}
