package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ImportSource

/** Bucketing: pre-partitioned co-located joins — the zero-shuffle
  * join path for repeated big-to-big joins on the same key
  * (SCALING.md "Minimize shuffles"). Bucketed tables hash rows into
  * fixed buckets at write time; a join of two tables bucketed the
  * same way needs no exchange at read time.
  */
class BucketingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  def shuffles(df: org.apache.spark.sql.DataFrame): Int =
    "Exchange (hash|range|Single)".r
      .findAllIn(df.queryExecution.executedPlan.toString).size

  test("co-bucketed tables join without any exchange") {
    val orders = ImportSource.table(spark, sf, "orders")
    val lineitem = ImportSource.table(spark, sf, "lineitem")
    try {
      orders.write.mode("overwrite")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable("orders_bkt")
      lineitem.write.mode("overwrite")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable("lineitem_bkt")

      val joined = spark.table("lineitem_bkt")
        .join(spark.table("orders_bkt"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"))

      // the join itself is exchange-free: only the final single-key
      // aggregation may exchange
      val nShuffles = shuffles(joined)
      assert(nShuffles <= 1,
        s"bucketed join must not shuffle join inputs:\n${joined.queryExecution.executedPlan}")
      // and it still computes the right thing
      val viaPlain = lineitem.join(orders, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val viaBucket = joined.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(viaBucket == viaPlain)
    } finally {
      spark.sql("DROP TABLE IF EXISTS orders_bkt")
      spark.sql("DROP TABLE IF EXISTS lineitem_bkt")
    }
  }

  test("compaction-aware view equals full-history view, before and after new writes") {
    import graft.model._
    import graft.sinks.WarehouseSink
    import org.apache.spark.sql.Row
    import graft.streaming.CdcPipeline
    val root = Files.createTempDirectory("graft-compact").toString
    val sink = new WarehouseSink(spark, root)
    val table = TableSchema(1, "public", "one", Seq(
      ColumnSpec("id", PgTypes.Int8, key = true),
      ColumnSpec("msg", PgTypes.Text)))
    val payload = table.payloadStruct
    def batch(rows: Seq[(String, Option[Long], String, Long, String)]) = {
      val data = rows.map { case (ts, lsn, op, id, msg) =>
        val img = Row(id, msg)
        Row(java.sql.Timestamp.valueOf(ts), lsn.orNull, 1L, op,
          if (op == "DELETE") img else null,
          if (op == "DELETE") null else img)
      }
      spark.createDataFrame(spark.sparkContext.parallelize(data),
        graft.model.Envelope.schemaFor(payload))
    }
    sink.insert(table, batch(Seq(
      ("2024-01-01 00:00:00", None, "IMPORT", 1L, "a"),
      ("2024-01-01 00:00:00", None, "IMPORT", 2L, "b"),
      ("2024-01-02 00:00:00", Some(10L), "UPDATE", 1L, "a2"))))
    sink.compact(table)
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "msg").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // the independent reference: a window over the whole raw history
    // (nothing is vacuumed here, so raw still holds every change)
    def fullHistory() = rowsOf(graft.ops.ChangelogOps.latestRowsMerged(
      sink.raw(table), table.primaryKeys))
    // identical immediately after compaction
    assert(rowsOf(sink.latestView(table)) == fullHistory())
    assert(rowsOf(sink.latestView(table)) == Set(1L -> "a2", 2L -> "b"))
    // new tail past the watermark: update + delete + insert
    sink.insert(table, batch(Seq(
      ("2024-01-03 00:00:00", Some(11L), "UPDATE", 1L, "a3"),
      ("2024-01-03 00:00:01", Some(12L), "DELETE", 2L, "b"),
      ("2024-01-03 00:00:02", Some(13L), "INSERT", 3L, "c"))))
    assert(rowsOf(sink.latestView(table)) == fullHistory())
    assert(rowsOf(sink.latestView(table)) == Set(1L -> "a3", 3L -> "c"))
    // time travel: state as of Jan 2 ignores Jan 3 changes
    assert(rowsOf(sink.asOf(table,
      java.sql.Timestamp.valueOf("2024-01-02 12:00:00"))) == Set(1L -> "a2", 2L -> "b"))
  }

  test("warehouse raw table evolves by adding columns (mergeSchema)") {
    import graft.model._
    import graft.sinks.WarehouseSink
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val root = Files.createTempDirectory("graft-evolve").toString
    val sink = new WarehouseSink(spark, root)
    val v1 = TableSchema(1, "public", "one", Seq(
      ColumnSpec("id", PgTypes.Int8, key = true),
      ColumnSpec("msg", PgTypes.Text)))
    val v2 = v1.copy(columns = v1.columns :+ ColumnSpec("another", PgTypes.Text))

    def batch(schema: TableSchema, rows: Seq[Seq[Any]], lsn: Long) = {
      val payload = schema.payloadStruct
      val data = rows.map(vals => Row(
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), lsn, 1L,
        "INSERT", null, Row.fromSeq(vals)))
      spark.createDataFrame(spark.sparkContext.parallelize(data),
        Envelope.schemaFor(payload))
    }
    // payloadStruct is name-sorted: v1 = (id, msg); v2 = (another, id, msg)
    sink.insert(v1, batch(v1, Seq(Seq(1L, "old")), 10L))
    sink.insert(v2, batch(v2, Seq(Seq("x", 2L, "new")), 11L))

    val raw = sink.raw(v2)
    assert(raw.count() == 2)
    val after = raw.select("after.id", "after.msg", "after.another")
      .collect().map(r => (r.getLong(0), r.getString(1), Option(r.getString(2)))).toSet
    // old rows read with null in the added column — add-columns-only
    // evolution, like the reference's blind schema update
    assert(after == Set((1L, "old", None), (2L, "new", Some("x"))))
  }

  test("a compacted baseline reads a column added after it as null") {
    import graft.model._
    import graft.sinks.WarehouseSink
    import org.apache.spark.sql.Row
    val sink = new WarehouseSink(spark,
      Files.createTempDirectory("graft-evolve-compact").toString)
    val v1 = TableSchema(1, "public", "one", Seq(
      ColumnSpec("id", PgTypes.Int8, key = true),
      ColumnSpec("msg", PgTypes.Text)))
    val v2 = v1.copy(columns = v1.columns :+ ColumnSpec("another", PgTypes.Text))
    def batch(schema: TableSchema, vals: Seq[Any], lsn: Long) =
      spark.createDataFrame(java.util.List.of(Row(
          java.sql.Timestamp.valueOf(s"2024-01-0$lsn 00:00:00"), lsn, 1L,
          "INSERT", null, Row.fromSeq(vals))),
        Envelope.schemaFor(schema.payloadStruct))
    def rows() = sink.latestView(v2).select("id", "msg", "another")
      .collect().map(r => (r.getLong(0), r.getString(1), Option(r.getString(2)))).toSet
    val want = Set((1L, "old", None), (2L, "new", Some("x")))
    sink.insert(v1, batch(v1, Seq(1L, "old"), 1L))
    sink.compact(v1)
    // payloadStruct is name-sorted: v2 = (another, id, msg)
    sink.insert(v2, batch(v2, Seq("x", 2L, "new"), 2L))
    assert(rows() == want)
    sink.compact(v2)
    assert(rows() == want)
  }
}
