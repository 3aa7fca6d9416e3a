package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.PgTypes
import graft.sources.PgOutput
import graft.sources.PgOutput._

/** A column the generator writes: its Spark type and a seeded value. */
final case class GenCol(name: String, dataType: DataType, key: Boolean) {
  def oid: Int = PgTypes.oidFor(dataType)
}

/** A replicated table: relation id, columns, and the column whose
  * value an update may leave as an unchanged-TOAST marker. */
final case class GenTable(relId: Long, name: String, cols: Seq[GenCol], toast: String) {
  val keys: Seq[String] = cols.filter(_.key).map(_.name)
  def relation: Array[Byte] = encodeRelation(Relation(relId, "public", name, 'd'.toByte,
    cols.map(c => RelationColumn(c.key, c.name, c.oid, -1))))
  def schema: StructType = StructType(cols.map(c => StructField(c.name, c.dataType)))
}

/** The generator's model of one key's final row. `inherit` marks a
  * TOAST cell the stream never rewrote: its value is the imported one. */
final case class ModelRow(values: Map[String, Any], deleted: Boolean, inherit: Boolean)

/** One generated transaction: its frames, commit LSN, row count and
  * the frame position of its commit (counted across the whole log). */
final case class Txn(frames: Seq[Array[Byte]], lsn: Long, rows: Int, commitPos: Long)

/** Shares of the row operations in a transaction: updates, inserts
  * and (the rest) deletes; `toast` is the share of all rows that are
  * updates leaving the TOAST column as an unchanged marker. */
final case class Mix(update: Double, insert: Double, toast: Double)

/** Seeded pgoutput transaction generator with a model of the final
  * rows by key. Keys are Zipf-skewed over each table's key space. */
final class CdcGen(seed: Long, tables: Seq[GenTable], keySpace: Map[String, Long],
    zipfS: Double = 1.1) {
  private val rng = new java.util.Random(seed)
  private val zipf = tables.map(t => t.name -> new Zipf(keySpace(t.name), zipfS)).toMap
  private val nextKey = mutable.Map(tables.map(t => t.name -> keySpace(t.name)): _*)
  /** Touched keys only: untouched keys keep their imported rows. */
  val model: Map[String, mutable.Map[Seq[Any], ModelRow]] =
    tables.map(_.name -> mutable.Map.empty[Seq[Any], ModelRow]).toMap
  private var lsn = 1000L
  private var xid = 0L
  private var frames = 0L
  var rowsEmitted: Map[String, Long] = tables.map(_.name -> 0L).toMap
  def lastLsn: Long = lsn
  def framesEmitted: Long = frames

  /** Frames that open the log: one Relation per table. */
  def relations(): Seq[Array[Byte]] = {
    frames += tables.size
    tables.map(_.relation)
  }

  /** The key tuple for key number `k` of a table: single-key tables
    * use `k`; lineitem-style (order, line) keys spread `k` over lines. */
  private def keyOf(t: GenTable, k: Long): Seq[Any] = t.keys match {
    case Seq(_) => Seq(cast(t.cols.find(_.key).get.dataType, k))
    case Seq(_, _) => Seq[Any](k / CdcGen.LinesPerOrder, (k % CdcGen.LinesPerOrder + 1).toInt)
  }
  private def cast(dt: DataType, k: Long): Any = dt match {
    case IntegerType => k.toInt
    case _ => k
  }

  private def value(c: GenCol): Any = c.dataType match {
    case LongType => rng.nextInt(1000000).toLong
    case IntegerType => rng.nextInt(1000)
    case DoubleType => math.round(rng.nextDouble() * 1e7) / 100.0
    case StringType => CdcGen.Words(rng.nextInt(CdcGen.Words.size)) + "-" + rng.nextInt(10000)
    case TimestampType => java.sql.Timestamp.valueOf(
      f"199${5 + rng.nextInt(5)}-0${1 + rng.nextInt(9)}-1${rng.nextInt(9)} 00:00:00")
  }
  private def text(v: Any): Element = v match {
    case null => Element('n'.toByte, None)
    case ts: java.sql.Timestamp => Element('t'.toByte, Some(ts.toString.stripSuffix(".0").getBytes(UTF_8)))
    case x => Element('t'.toByte, Some(x.toString.getBytes(UTF_8)))
  }

  /** One row change on table `t`, recorded in the model. */
  private def change(t: GenTable, mix: Mix): Array[Byte] = {
    val m = model(t.name)
    val draw = rng.nextDouble()
    val k0 = zipf(t.name).sample(rng)
    val key = keyOf(t, k0)
    val gone = m.get(key).exists(_.deleted)
    rowsEmitted = rowsEmitted.updated(t.name, rowsEmitted(t.name) + 1)
    if (draw < mix.insert || gone) {
      // an insert takes a fresh key, or revives a deleted one
      val k = if (gone) key else { val n = nextKey(t.name); nextKey(t.name) = n + 1; keyOf(t, n) }
      val vals = t.cols.map(c => c.name -> (if (c.key) k(t.keys.indexOf(c.name)) else value(c))).toMap
      m(k) = ModelRow(vals, deleted = false, inherit = false)
      encodeInsert(Insert(t.relId, TupleData(t.cols.map(c => text(vals(c.name))))))
    } else if (draw < mix.insert + mix.update) {
      val toast = rng.nextDouble() < mix.toast / mix.update
      val prev = m.get(key)
      val vals = t.cols.map { c =>
        c.name -> (if (c.key) key(t.keys.indexOf(c.name))
          else if (toast && c.name == t.toast) prev.map(_.values(c.name)).orNull
          else value(c))
      }.toMap
      m(key) = ModelRow(vals, deleted = false,
        inherit = toast && prev.forall(_.inherit))
      encodeUpdate(Update(t.relId, None, None, TupleData(t.cols.map { c =>
        if (toast && c.name == t.toast) Element('u'.toByte, None) else text(vals(c.name))
      })))
    } else {
      m(key) = ModelRow(Map.empty, deleted = true, inherit = false)
      encodeDelete(Delete(t.relId, 'K'.toByte, TupleData(t.cols.map { c =>
        if (c.key) text(key(t.keys.indexOf(c.name))) else text(null)
      })))
    }
  }

  /** A transaction of `rows` changes on tables drawn uniformly from `on`. */
  def txn(rows: Int, on: Seq[GenTable], mix: Mix): Txn =
    transaction((0 until rows).map(_ => change(on(rng.nextInt(on.size)), mix)))

  private def transaction(body: Seq[Array[Byte]]): Txn = {
    lsn += body.size + 2
    xid += 1
    val ts = CdcGen.pgMicros(CdcGen.StreamStartMicros + xid * 1000L)
    val fs = (encodeBegin(Begin(lsn, ts, xid)) +: body) :+
      encodeCommit(Commit(0, lsn, lsn + 1, ts))
    frames += fs.size
    Txn(fs, lsn, body.size, frames - 1)
  }

  /** The expected final state of a table: imported rows of untouched
    * keys, plus the model's live rows (TOAST cells the stream never
    * rewrote come from the import). */
  def expected(spark: SparkSession, t: GenTable, imported: Option[DataFrame]): DataFrame = {
    val live = model(t.name).collect { case (_, r) if !r.deleted => r }.toSeq
    val rows = live.map(r => Row.fromSeq(t.cols.map(c => r.values(c.name)) :+ r.inherit))
    val touched = spark.createDataFrame(scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava,
      t.schema.add("_inherit", BooleanType))
    imported match {
      case None => touched.drop("_inherit")
      case Some(imp) =>
        val keys = model(t.name).keys.toSeq.map(k => Row.fromSeq(k))
        val keyDf = spark.createDataFrame(scala.jdk.CollectionConverters.SeqHasAsJava(keys).asJava,
          StructType(t.keys.map(k => t.schema(k))))
        val kept = imp.join(keyDf, t.keys, "left_anti")
        val fromImport = imp.select((t.keys :+ t.toast).map(col): _*)
          .withColumnRenamed(t.toast, "_imp")
        val streamed = touched.join(fromImport, t.keys, "left")
          .withColumn(t.toast, when(col("_inherit"), col("_imp")).otherwise(col(t.toast)))
        kept.select(t.cols.map(c => col(c.name)): _*)
          .unionByName(streamed.select(t.cols.map(c => col(c.name)): _*))
    }
  }
}

object CdcGen {
  /** Lines per order in the generated lineitem (gen_tables.py). */
  val LinesPerOrder = 4
  val Words: IndexedSeq[String] = "spark window merge table column vector stream value data"
    .split(" ").toIndexedSeq
  /** Stream transactions are stamped after the import instant. */
  val ImportAsOf: java.sql.Timestamp = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
  val StreamStartMicros: Long = ImportAsOf.getTime * 1000L + 1000000L
  def pgMicros(unixMicros: Long): Long = unixMicros - PgOutput.toUnixMicros(0L)

  /** Order-independent fingerprint of a frame's rows: count and the
    * sum of per-row xxhash64 over the columns in name order. */
  def fingerprint(df: DataFrame, cols: Seq[String]): (Long, java.math.BigDecimal) = {
    val r = df.select(xxhash64(cols.sorted.map(col): _*).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h"))).collect()(0)
    (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }
}

/** Zipf sampler over ranks 0..n-1 by inverse CDF on a coarse table. */
final class Zipf(n: Long, s: Double) {
  private val buckets = math.min(n, 65536L).toInt
  private val width = n.toDouble / buckets
  private val cdf = {
    val w = (1 to buckets).map(i => 1.0 / math.pow(i, s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }
  def sample(rng: java.util.Random): Long = {
    val u = rng.nextDouble()
    var i = java.util.Arrays.binarySearch(cdf, u)
    if (i < 0) i = -i - 1
    val b = math.min(i, buckets - 1)
    math.min(n - 1, (b * width + rng.nextDouble() * width).toLong)
  }
}
