package graft.sinks

import java.util.concurrent.ConcurrentHashMap
import graft.model.TableSchema

/** Fingerprint-gated schema handling: sink DDL runs once per distinct
  * schema version, repeats are suppressed
  * (reference: pkg/sinks/generic/schema_handler.go:16-105 — outcomes
  * failed/noop/update, md5 fingerprint cache).
  *
  * Driver-side state: schemas are control-plane metadata, a handful
  * per table, never data-plane — so a plain concurrent map scales to
  * any number of executors.
  */
final class SchemaHandler(apply: TableSchema => Unit) {
  private val fingerprints = new ConcurrentHashMap[String, String]()

  def handle(schema: TableSchema): SchemaOutcome = {
    val key = schema.ref.qualified
    val fp = schema.fingerprint
    if (fingerprints.get(key) == fp) SchemaOutcome.Noop
    else {
      try {
        apply(schema)
        fingerprints.put(key, fp)
        SchemaOutcome.Update
      } catch {
        case e: Exception => SchemaOutcome.Failed(e)
      }
    }
  }
}
