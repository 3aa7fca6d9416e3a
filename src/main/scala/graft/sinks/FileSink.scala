package graft.sinks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.model.{Envelope, TableSchema}

/** Newline-JSON file sink: modifications append as JSON lines under
  * `root/modifications`, schema events to `root/schemas.jsonl`
  * (reference: pkg/sinks/file/inserter.go:21-52, sink.go:35-81 —
  * the reference appends pretty-JSON to two flat files; a distributed
  * engine appends a *directory* of JSON part-files per batch, which
  * is the same contract minus the single-writer bottleneck).
  */
final class FileSink(root: String) extends Sink {
  private val schemaLog = new java.io.File(root, "schemas.jsonl")
  private val handler = new SchemaHandler({ schema =>
    new java.io.File(root).mkdirs()
    val json = schemaJson(schema)
    val w = new java.io.FileWriter(schemaLog, true)
    try w.write(json + "\n") finally w.close()
  })

  override def handleSchema(schema: TableSchema): SchemaOutcome =
    handler.handle(schema)

  /** CDC batches carry the unchanged-TOAST marker column (import
    * batches do not); it is written when present, so a consumer can
    * tell an unchanged TOAST cell from a NULL one. */
  override def insert(table: TableSchema, batch: DataFrame): InsertResult = {
    val cols = Seq("timestamp", "namespace", "name", "lsn", "sequence",
      "operation", "before", "after") ++
      Seq(Envelope.UnchangedCol).filter(batch.columns.contains)
    InsertResult.observedWrite(batch)(_
      .withColumn("namespace", lit(table.namespace))
      .withColumn("name", lit(table.name))
      .select(cols.map(col): _*)
      .write.mode("append")
      .option("timestampFormat", JsonText.TimestampFormat)
      .json(s"$root/modifications/${table.ref.qualified}"))
  }

  /** Truncate events append to `root/truncates.jsonl` — a consumer
    * replaying the modification files applies each marker to its
    * table's state at the recorded position. The timestamp is written
    * like the modification lines' (ISO-8601 UTC). */
  override def truncate(table: TableSchema, at: java.sql.Timestamp,
      lsn: Option[Long], sequence: Option[Long]): Unit = {
    new java.io.File(root).mkdirs()
    val w = new java.io.FileWriter(new java.io.File(root, "truncates.jsonl"), true)
    try w.write(
      s"""{"namespace":${JsonText.string(table.namespace)},""" +
        s""""name":${JsonText.string(table.name)},""" +
        s""""timestamp":"${JsonText.instant(at)}","lsn":${lsn.getOrElse("null")},""" +
        s""""sequence":${sequence.getOrElse("null")}}""" + "\n")
    finally w.close()
  }

  /** Schema-entry JSON: {timestamp-free descriptor, columns with key
    * flags} — mirrors the reference's schema file lines
    * (README.md:134-155 shape). */
  private def schemaJson(s: TableSchema): String = {
    val cols = s.columns.map { c =>
      s"""{"name":${JsonText.string(c.name)},"type":${c.pgOid},"key":${c.key},"modifier":${c.modifier}}"""
    }.mkString("[", ",", "]")
    s"""{"namespace":${JsonText.string(s.namespace)},"name":${JsonText.string(s.name)},"relation_id":${s.relationId},"fingerprint":"${s.fingerprint}","columns":$cols}"""
  }
}
