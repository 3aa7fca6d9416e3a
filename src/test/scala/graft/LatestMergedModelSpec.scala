package graft

import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.model.{ColumnSpec, Envelope, Operation, PgTypes, TableSchema}
import graft.ops.ChangelogOps

/** `ChangelogOps.latestRowsMerged` against a brute-force model: sort
  * each key's changes by (timestamp, lsn, sequence) with nulls first,
  * keep the key only if its newest change is not a DELETE, and take
  * each non-key cell from the newest change that did not mark it
  * unchanged-TOAST (a NULL there is a genuine NULL). */
class LatestMergedModelSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val lines = TableSchema(1L, "public", "lines", Seq(
    ColumnSpec("order_id", PgTypes.Int8, key = true),
    ColumnSpec("line", PgTypes.Int4, key = true),
    ColumnSpec("note", PgTypes.Text),
    ColumnSpec("qty", PgTypes.Int4)))

  /** One change: key (order_id, line), the image cells and the cells
    * marked unchanged; `lsn = None` is an import. */
  private case class Change(ts: Int, lsn: Option[Long], seq: Option[Long],
      op: String, key: (Long, Int), note: String, qty: Integer,
      unchanged: Seq[String] = Nil)

  private def at(second: Int) = new Timestamp(1709251200000L + second * 1000L)

  private def envelope(c: Change): Row = {
    val cells = Map("order_id" -> Long.box(c.key._1), "line" -> Int.box(c.key._2),
      "note" -> c.note, "qty" -> c.qty)
    val img = Row.fromSeq(lines.payloadStruct.fieldNames.toSeq.map(cells))
    val (before, after) = c.op match {
      case Operation.Delete => (img, null)
      case Operation.Update => (img, img)
      case _ => (null, img)
    }
    Row(at(c.ts), c.lsn.map(Long.box).orNull, c.seq.map(Long.box).orNull, c.op,
      before, after, if (c.unchanged.isEmpty) null else c.unchanged)
  }

  private def merged(changes: Seq[Change]): Set[((Long, Int), (String, Integer))] = {
    val df = spark.createDataFrame(java.util.List.of(changes.map(envelope): _*),
      Envelope.schemaFor(lines.payloadStruct, withToastMarker = true))
    ChangelogOps.latestRowsMerged(df, lines.primaryKeys)
      .select("order_id", "line", "note", "qty").collect().map { r =>
        (r.getLong(0), r.getInt(1)) ->
          (r.getString(2), if (r.isNullAt(3)) null else Int.box(r.getInt(3)))
      }.toSet
  }

  private def model(changes: Seq[Change]): Set[((Long, Int), (String, Integer))] =
    changes.groupBy(_.key).flatMap { case (key, cs) =>
      val newestFirst = cs.sortBy(c => (c.ts, c.lsn.getOrElse(Long.MinValue),
        c.seq.getOrElse(Long.MinValue))).reverse
      def cell[A](name: String, of: Change => A): A =
        newestFirst.find(!_.unchanged.contains(name)).map(of).getOrElse(null.asInstanceOf[A])
      if (newestFirst.head.op == Operation.Delete) None
      else Some(key -> (cell("note", _.note), cell("qty", _.qty)))
    }.toSet

  private val I = Operation.Insert
  private val U = Operation.Update
  private val D = Operation.Delete
  private val Imp = Operation.Import

  test("hand-picked cases: TOAST fill, genuine NULL, delete, composite key, tie-breaks") {
    val changes = Seq(
      // unchanged-TOAST note filled from the import before it
      Change(0, None, None, Imp, (1L, 1), "n0", 1),
      Change(1, Some(10L), Some(1L), U, (1L, 1), null, 2, Seq("note")),
      // a NULL written by an UPDATE stays NULL
      Change(0, Some(5L), Some(1L), I, (1L, 2), "x", 1),
      Change(1, Some(11L), Some(1L), U, (1L, 2), null, 3),
      // the newest change is a DELETE: the key is gone
      Change(0, Some(6L), Some(1L), I, (2L, 1), "gone", 1),
      Change(1, Some(12L), Some(1L), U, (2L, 1), "gone2", 2),
      Change(2, Some(13L), Some(1L), D, (2L, 1), "gone2", 2),
      // composite key: shares order_id with (2,1), line with (1,2)
      Change(0, Some(7L), Some(1L), I, (2L, 2), "keep", 4),
      // same timestamp: a null-lsn import loses to a stream row
      Change(5, Some(20L), Some(1L), U, (3L, 1), "stream", 1),
      Change(5, None, None, Imp, (3L, 1), "import", 9),
      // same timestamp: the higher lsn wins
      Change(5, Some(22L), Some(1L), U, (3L, 2), "lsn22", 2),
      Change(5, Some(21L), Some(1L), U, (3L, 2), "lsn21", 1),
      // same timestamp and lsn: the higher sequence wins
      Change(5, Some(23L), Some(2L), U, (3L, 3), "seq2", 2),
      Change(5, Some(23L), Some(1L), U, (3L, 3), "seq1", 1),
      // the timestamp orders before the lsn
      Change(6, Some(30L), Some(1L), U, (4L, 1), "later-ts", 1),
      Change(5, Some(40L), Some(1L), U, (4L, 1), "earlier-ts", 2),
      // two unchanged versions in a row both take the insert's note;
      // the qty cell is marked on the middle one only
      Change(0, Some(8L), Some(1L), I, (4L, 2), "orig", 1),
      Change(1, Some(14L), Some(1L), U, (4L, 2), null, null, Seq("note", "qty")),
      Change(2, Some(15L), Some(1L), U, (4L, 2), null, 3, Seq("note")),
      // deleted, then inserted again
      Change(0, Some(9L), Some(1L), I, (5L, 1), "first", 1),
      Change(1, Some(16L), Some(1L), D, (5L, 1), "first", 1),
      Change(2, Some(17L), Some(1L), I, (5L, 1), "again", 2))
    val expected = Set(
      (1L, 1) -> ("n0", Int.box(2)),
      (1L, 2) -> (null, Int.box(3)),
      (2L, 2) -> ("keep", Int.box(4)),
      (3L, 1) -> ("stream", Int.box(1)),
      (3L, 2) -> ("lsn22", Int.box(2)),
      (3L, 3) -> ("seq2", Int.box(2)),
      (4L, 1) -> ("later-ts", Int.box(1)),
      (4L, 2) -> ("orig", Int.box(3)),
      (5L, 1) -> ("again", Int.box(2)))
    assert(model(changes) == expected)
    assert(merged(changes) == expected)
  }

  test("seeded changelogs agree with the model") {
    val rnd = new scala.util.Random(13)
    val keys = for (o <- 1L to 3L; l <- 1 to 2) yield (o, l)
    val changes = (1 to 60).map { i =>
      val key = keys(rnd.nextInt(keys.size))
      val imported = rnd.nextInt(8) == 0
      val op = if (imported) Imp else Seq(I, U, U, U, D)(rnd.nextInt(5))
      val marked = if (op == U) Seq("note", "qty").filter(_ => rnd.nextInt(3) == 0) else Nil
      Change(rnd.nextInt(4),
        if (imported) None else Some(rnd.nextInt(20).toLong),
        if (imported) None else Some(1L + rnd.nextInt(2)),
        op, key,
        if (marked.contains("note") || rnd.nextInt(6) == 0) null else s"n$i",
        if (marked.contains("qty")) null else Int.box(i), marked)
    }.distinctBy(c => (c.key, c.ts, c.lsn, c.seq)) // a total order per key
    assert(merged(changes) == model(changes))
  }
}
