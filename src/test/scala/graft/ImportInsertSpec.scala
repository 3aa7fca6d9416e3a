package graft

import java.nio.file.Files

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.{ColumnSpec, Envelope, Operation, PgTypes, TableSchema}
import graft.sinks.{FileSink, InsertResult, WarehouseSink}

/** The import insert is one Spark job: the write observes the batch's
  * (count, max lsn) fold in its own result stage, with no cache and
  * no count/max pre-pass. */
class ImportInsertSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  def tmp(): String = Files.createTempDirectory("graft-import-insert").toString

  private val orders = TableSchema(1L, "public", "orders", Seq(
    ColumnSpec("id", PgTypes.Int8, key = true),
    ColumnSpec("note", PgTypes.Text)))

  /** A parquet-scan batch of `n` envelopes over two dates; lsn i. */
  private def parquetBatch(n: Int): DataFrame = {
    val rows = (1 to n).map { i =>
      val ts = java.sql.Timestamp.valueOf(s"2024-03-0${1 + i % 2} 00:00:0${i % 10}")
      Row(ts, Long.box(i.toLong), Long.box(1L), Operation.Insert, null, Row(Long.box(i.toLong), s"n$i"))
    }
    val dir = tmp() + "/batch"
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3),
      Envelope.schemaFor(orders.payloadStruct)).write.parquet(dir)
    spark.read.parquet(dir)
  }

  private def jobsDuring(body: => Unit): Int = SparkJobs.startedBy(spark.sparkContext)(body)

  test("an import insert starts one Spark job and returns the true count and max lsn") {
    val batch = parquetBatch(40)
    val sink = new WarehouseSink(spark, tmp())
    var result: InsertResult = null
    assert(jobsDuring { result = sink.insert(orders, batch) } == 1)
    assert(result == InsertResult(40, Some(40L)))
    assert(sink.raw(orders).count() == 40)

    val files = new FileSink(tmp())
    assert(jobsDuring { result = files.insert(orders, batch) } == 1)
    assert(result == InsertResult(40, Some(40L)))
  }

  test("an empty batch folds to (0, None) without blocking; an ordered batch counts each row once") {
    val sink = new WarehouseSink(spark, tmp())
    val batch = parquetBatch(30)
    val empty = Future(sink.insert(orders, batch.where(lit(false))))
    assert(Await.result(empty, 60.seconds) == InsertResult.empty)
    // the range-partition sampling job scans the batch too; the fold
    // sits above the exchange, so it sees each row once
    assert(sink.insert(orders, batch.orderBy(col(Envelope.LsnCol).desc)) ==
      InsertResult(30, Some(30L)))
    assert(sink.latestView(orders).count() == 30)
  }
}
