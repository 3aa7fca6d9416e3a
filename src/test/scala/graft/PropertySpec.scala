package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.InsertResult
import graft.sources.TextDecode
import graft.model.PgTypes

/** Property tests for the algebraic invariants the engine's
  * correctness rests on (SURVEY §5: the promise-fold/LSN-watermark
  * and dedup-view properties). Raw ScalaCheck under ScalaTest (the
  * scalatestplus bridge is not on the offline classpath).
  */
class PropertySpec extends AnyFunSuite {

  private def check(name: String, p: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(100), p)
    assert(res.passed, s"$name: ${res.status}")
  }

  val genResult: Gen[InsertResult] = for {
    n <- Gen.chooseNum(0L, 1000000L)
    lsn <- Gen.option(Gen.chooseNum(0L, Long.MaxValue / 2))
  } yield InsertResult(n, lsn)

  test("InsertResult fold is associative and commutative (any fold tree, same watermark)") {
    check("assoc", Prop.forAll(genResult, genResult, genResult) { (a, b, c) =>
      a.merge(b.merge(c)) == a.merge(b).merge(c)
    })
    check("comm", Prop.forAll(genResult, genResult) { (a, b) =>
      a.merge(b) == b.merge(a)
    })
    check("identity", Prop.forAll(genResult) { a =>
      a.merge(InsertResult.empty) == a
    })
  }

  test("bloom filter: no false negatives under any partitioning of the build set") {
    val genKeys = Gen.listOf(Gen.chooseNum(Long.MinValue, Long.MaxValue))
    check("bloom-nfn", Prop.forAll(
        genKeys, Gen.oneOf(64, 256, 4096), Gen.chooseNum(1, 8)) {
      (hashes, bits, k) =>
        val agg = new graft.functions.BloomFilterAggregator(bits, k)
        // arbitrary split into two partials merged back — the map-side
        // partial-aggregation shape
        val (l, r) = hashes.splitAt(hashes.length / 2)
        val words = agg.merge(
          l.foldLeft(agg.zero)(agg.reduce),
          r.foldLeft(agg.zero)(agg.reduce))
        // JVM mirror of SketchOps.bloomMightContain's column arithmetic
        def mightContain(h: Long): Boolean = {
          val h2 = (h >>> 32) | 1L
          (0 until k).forall { i =>
            val pos =
              java.lang.Math.floorMod(h + i.toLong * h2, bits.toLong).toInt
            (words(pos >> 6) & (1L << (pos & 63))) != 0L
          }
        }
        hashes.forall(mightContain)
    })
  }

  test("backoff is monotonic in error count and capped") {
    def backoff(n: Int) = math.min(3600.0, 5.0 * math.pow(3.0, n.toDouble))
    check("monotone-capped",
      Prop.forAll(Gen.chooseNum(0, 40), Gen.chooseNum(0, 40)) { (a, b) =>
        (a > b || backoff(a) <= backoff(b)) && backoff(a) <= 3600.0
      })
  }

  test("postgres array literal round-trips") {
    val elem = Gen.oneOf(
      Gen.alphaNumStr.map(s => if (s == "NULL") "x" + s else s),
      Gen.const(null: String))
    check("array-roundtrip", Prop.forAll(Gen.nonEmptyListOf(elem)) { xs =>
      val literal = xs.map {
        case null => "NULL"
        case s if s.isEmpty || s.contains(",") || s.contains("\"") ||
          s.contains("\\") =>
          "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
        case s => s
      }.mkString("{", ",", "}")
      TextDecode.decode(PgTypes.TextArr, literal) == xs
    })
  }

  test("scalar text decode round-trips") {
    check("int8", Prop.forAll { (v: Long) =>
      TextDecode.decode(PgTypes.Int8, v.toString) == v
    })
    check("int4", Prop.forAll { (v: Int) =>
      TextDecode.decode(PgTypes.Int4, v.toString) == v
    })
    check("float8", Prop.forAll { (v: Double) =>
      v.isNaN || TextDecode.decode(PgTypes.Float8, v.toString) == v
    })
    check("bytea", Prop.forAll(Gen.listOf(Gen.chooseNum(-128, 127).map(_.toByte))) { bytes =>
      val hex = "\\x" + bytes.map(b => f"${b & 0xff}%02x").mkString
      TextDecode.decode(PgTypes.Bytea, hex)
        .asInstanceOf[Array[Byte]].toSeq == bytes
    })
  }

  test("cleanCorpus is idempotent: cleaning a cleaned corpus changes nothing") {
    import graft.ops.TextOps
    val spark = SparkTestSession.spark
    import spark.implicits._
    val docs = graft.sources.ImportSource.table(
      spark, "/root/testdata/sf0.001", "documents")
    val once = TextOps.cleanCorpus(docs, "doc_id", "text", "lang",
      Seq("en", "fr"), minTokens = 20, minQuality = 0.75)
    val twice = TextOps.cleanCorpus(once.drop("quality"), "doc_id", "text", "lang",
      Seq("en", "fr"), minTokens = 20, minQuality = 0.75)
    val a = once.select("doc_id").as[Long].collect().sorted.toSeq
    val b = twice.select("doc_id").as[Long].collect().sorted.toSeq
    assert(a.nonEmpty && a == b)
  }

  test("latest-row view: idempotent under replay, insensitive to batch arrival order") {
    // the invariant that makes at-least-once delivery + append-only
    // raw tables safe (SURVEY §5 dedup-view property)
    val spark = SparkTestSession.spark
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val genMod = for {
      pk <- Gen.chooseNum(1L, 5L)
      lsn <- Gen.chooseNum(1L, 50L)
      op <- Gen.oneOf("INSERT", "UPDATE", "DELETE")
      v <- Gen.alphaNumStr.map(_.take(6))
    } yield (pk, lsn, op, v)
    val prop = Prop.forAllNoShrink(
      Gen.listOfN(12, genMod), Gen.chooseNum(1L, 1000L)) { (mods0, seed) =>
      // distinct (pk, lsn) so ordering is total
      val mods = mods0.distinctBy(m => (m._1, m._2))
      val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      def df(ms: Seq[(Long, Long, String, String)]) =
        ms.map { case (pk, lsn, op, v) => (pk, ts, lsn, Option.empty[Long], op, v) }
          .toDF("pk", "timestamp", "lsn", "sequence", "operation", "value")
      def result(ms: Seq[(Long, Long, String, String)]): Map[Long, (Long, String)] =
        graft.ops.ChangelogOps.latestRowView(df(ms), Seq(col("pk")))
          .select("pk", "lsn", "value").collect()
          .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
      val base = result(mods)
      val replayed = result(mods ++ mods) // full duplicate delivery
      val shuffled = result(new scala.util.Random(seed).shuffle(mods))
      base == replayed && base == shuffled
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("ANN store: any append sequence answers as last-writer-wins over the union") {
    val spark = SparkTestSession.spark
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dims = 4
    val centroids = Seq(
      Seq(1f, 0f, 0f, 0f), Seq(0f, 1f, 0f, 0f), Seq(0f, 0f, 1f, 0f))
    val genVec: Gen[Seq[Float]] =
      Gen.listOfN(dims, Gen.chooseNum(-100, 100).map(_ / 100.0f)).map(_.toSeq)
    val genRows: Gen[List[(Long, Seq[Float])]] =
      Gen.listOfN(8, Gen.zip(Gen.chooseNum(1L, 6L), genVec))
    val prop = Prop.forAllNoShrink(genRows, genRows, genRows) { (g0, g1, g2) =>
      // a generation may not write the same id twice (appends are
      // per-id upserts; within one write the winner would be untied)
      val gens = Seq(g0, g1, g2).map(_.distinctBy(_._1)).filter(_.nonEmpty)
      val dir = java.nio.file.Files.createTempDirectory("ann_prop").toString + "/s"
      graft.ops.SimilarityOps.writeIvfPartitioned(
        gens.head.toDF("vec_id", "embedding"), "vec_id", "embedding",
        centroids, dir)
      gens.zipWithIndex.drop(1).foreach { case (g, i) =>
        graft.ops.SimilarityOps.appendIvfPartitioned(
          g.toDF("vec_id", "embedding"), "vec_id", "embedding",
          centroids, dir, gen = i.toLong)
      }
      // last writer wins per id across the whole sequence
      val latest = gens.zipWithIndex
        .flatMap { case (g, i) => g.map { case (id, v) => (id, i, v) } }
        .groupBy(_._1).view.mapValues(_.maxBy(_._2)._3).toMap
      val query = Seq(1f, 0f, 0f, 0f)
      def cos(a: Seq[Float], b: Seq[Float]): Double = {
        val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
        val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
        val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
        if (na * nb == 0) 0.0 else dot / (na * nb)
      }
      val expected = latest.toSeq
        .map { case (id, v) =>
          (id, BigDecimal(cos(query, v)).setScale(6,
            BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
        .sortBy { case (id, c) => (-c, id) }.take(4)
      val got = graft.ops.SimilarityOps.ivfTopKPartitioned(
          spark, dir, "vec_id", "embedding", query, centroids,
          k = 4, nprobe = centroids.size)
        .as[(Long, Double)].collect().toSeq
      got == expected
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("warehouse: any insert/compact/truncate/vacuum sequence reads as last-writer-wins") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    import org.apache.spark.sql.Row
    import graft.model.{ColumnSpec, Envelope, Operation, TableSchema}
    val table = TableSchema(1L, "public", "pets", Seq(
      ColumnSpec("id", PgTypes.Int8, key = true),
      ColumnSpec("name", PgTypes.Text)))
    type Step = Either[List[(Long, String, String)], String]
    val genPut = Gen.listOfN(2, Gen.zip(Gen.chooseNum(1L, 6L),
      Gen.frequency(9 -> Gen.oneOf(Operation.Insert, Operation.Update),
        1 -> Gen.const(Operation.Delete)),
      Gen.oneOf("a", "b", "c")))
    // a round writes one batch, then vacuums, mostly compacts and
    // sometimes truncates, in a random order; the first write makes
    // the raw table exist. A compaction costs about a second, so the
    // spec runs few cases of rounds where a vacuum always has a chance
    // to drop what the next compaction must keep.
    val genRound = for {
      rows <- genPut
      c <- Gen.prob(0.9); t <- Gen.prob(0.1)
      seed <- Gen.long
    } yield (Left(rows): Step) :: new scala.util.Random(seed).shuffle(
      List(c -> "compact", true -> "vacuum", t -> "truncate")
        .collect { case (true, op) => Right(op): Step })
    val genSteps = Gen.listOfN(4, genRound).map(_.flatten)
    val prop = Prop.forAllNoShrink(genSteps) { steps =>
      val sink = new graft.sinks.WarehouseSink(spark,
        java.nio.file.Files.createTempDirectory("wh_prop").toString)
      var model = Map.empty[Long, String]
      var lsn = 0L
      var compacted = false
      // one day per step, so vacuum has whole partitions to drop
      steps.zipWithIndex.foreach { case (step, day) =>
        val ts = java.sql.Timestamp.valueOf(
          java.time.LocalDate.of(2024, 1, 1).plusDays(day).atTime(8, 0))
        step match {
          case Left(rows) =>
            val envs = rows.map { case (id, op, name) =>
              lsn += 1
              val img = Row(Long.box(id), name)
              model = if (op == Operation.Delete) model - id
                else model + (id -> name)
              Row(ts, Long.box(lsn), Long.box(1L), op,
                if (op == Operation.Delete) img else null,
                if (op == Operation.Delete) null else img)
            }
            // insertCounted skips the count job that insert runs
            sink.insertCounted(table, spark.createDataFrame(
              java.util.List.of(envs: _*), Envelope.schemaFor(table.payloadStruct)),
              graft.sinks.InsertResult(envs.size.toLong, Some(lsn)))
          case Right("compact") =>
            sink.compact(table)
            compacted = true
          case Right("truncate") =>
            lsn += 1
            sink.truncate(table, ts, Some(lsn), Some(1L))
            model = Map.empty
          case Right(_) =>
            if (compacted) sink.vacuum(table, java.sql.Date.valueOf("2100-01-01"))
        }
      }
      sink.latestView(table).select("id", "name").as[(Long, String)]
        .collect().toMap == model
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(3), prop)
    assert(res.passed, res.status.toString)
  }

  test("asOfJoin equals the brute-force per-row maximum (random keyed series)") {
    val spark = SparkTestSession.spark
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val genRow = for {
      key <- Gen.chooseNum(1L, 4L)
      ts <- Gen.chooseNum(0L, 40L)
    } yield (key, ts)
    val prop = Prop.forAllNoShrink(
      Gen.listOfN(10, genRow), Gen.listOfN(10, genRow)) { (ls, rs0) =>
      // distinct (key, ts) on the right so the match is unambiguous
      val rs = rs0.distinct
      val left = ls.zipWithIndex
        .map { case ((k, t), i) => (i.toLong, k, t) }.toDF("lid", "k", "t")
      val right = rs.map { case (k, t) => (k, t, t * 1000 + k) }
        .toDF("rk", "rt", "payload")
      val got = graft.ops.TemporalJoins
        .asOfJoin(left, right, "k", "rk", "t", "rt", Seq("payload"))
        .select($"lid", $"payload").as[(Long, Option[Long])]
        .collect().toMap
      val want = ls.zipWithIndex.map { case ((k, t), i) =>
        val cands = rs.filter { case (rk, rt) => rk == k && rt <= t }
        i.toLong -> (if (cands.isEmpty) None
                     else { val (rk, rt) = cands.maxBy(_._2)
                            Some(rt * 1000 + rk) })
      }.toMap
      got == want
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("bandedRangeJoin equals the brute-force interval filter (random series)") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val genRow = for {
      key <- Gen.chooseNum(1L, 3L)
      ts <- Gen.chooseNum(0L, 600L) // seconds, several band widths
    } yield (key, ts)
    val prop = Prop.forAllNoShrink(Gen.listOfN(14, genRow)) { rows0 =>
      val rows = rows0.distinct.zipWithIndex
        .map { case ((k, t), i) => (i.toLong, k, new java.sql.Timestamp(t * 1000L)) }
      val l = rows.toDF("a_id", "user_id", "ts")
      val r = rows.map { case (i, k, t) => (i, k, t) }
        .toDF("b_id", "b_user", "b_ts")
      val got = graft.ops.TemporalJoins
        .bandedRangeJoin(l, r, "user_id", "b_user", "ts", "b_ts", 120L)
        .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
      val want = (for {
        (ai, ak, at) <- rows; (bi, bk, bt) <- rows
        if ak == bk && bt.getTime > at.getTime &&
          bt.getTime <= at.getTime + 120000L
      } yield (ai, bi)).toSet
      got == want
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("schema fingerprint: permutation-invariant, content-sensitive") {
    import graft.model.{ColumnSpec, TableSchema}
    val genCol = for {
      name <- Gen.identifier.suchThat(_.nonEmpty)
      oid <- Gen.oneOf(PgTypes.supported.keys.toSeq)
      key <- Gen.oneOf(true, false)
    } yield ColumnSpec(name, oid, key)
    check("fingerprint", Prop.forAll(Gen.nonEmptyListOf(genCol)) { cols0 =>
      val cols = cols0.distinctBy(_.name)
      val s1 = TableSchema(1, "public", "t", cols)
      val s2 = TableSchema(1, "public", "t", scala.util.Random.shuffle(cols))
      val mutated = cols.head.copy(key = !cols.head.key) +: cols.tail
      s1.fingerprint == s2.fingerprint &&
        TableSchema(1, "public", "t", mutated).fingerprint != s1.fingerprint
    })
  }

  test("Mp4 parser is total on untrusted bytes (degrade, never throw)") {
    import graft.ops.MultimodalOps.Mp4Decoder
    val dec = new Mp4Decoder()
    // arbitrary garbage: random bytes, including 'moov'-prefixed ones
    // that look like box headers with absurd sizes
    val genBytes = Gen.oneOf(
      Gen.containerOf[Array, Byte](Gen.chooseNum(-128, 127).map(_.toByte)),
      Gen.chooseNum(0, 64).flatMap(n =>
        Gen.containerOfN[Array, Byte](n, Gen.chooseNum(-128, 127).map(_.toByte))
          .map(tail => "....moov".getBytes("US-ASCII") ++ tail)))
    check("mp4-total", Prop.forAll(genBytes) { bytes =>
      val f = dec.features("video", bytes)
      val offs = dec.frameOffsets(bytes, 3)
      f.length == 8 && offs.forall(_ >= 0)
    })
    // truncations of a VALID container must also degrade cleanly: every
    // prefix either parses (long enough) or returns None — no throw
    val full = LlmOpsSpec.sampleMp4
    (0 until full.length by 7).foreach { n =>
      val cut = full.take(n)
      assert(dec.features("video", cut).length == 8)
      dec.frameOffsets(cut, 2)
    }
    assert(Mp4Decoder.parse(full).exists(_.video.nonEmpty)) // sanity: fixture parses whole
  }

  test("urlDedup: winner matches the brute-force pick under any partitioning") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val genRow = for {
      id <- Gen.chooseNum(1L, 40L)
      host <- Gen.oneOf("a.example", "b.example")
      path <- Gen.oneOf("/p/1", "/p/2", "/p/1/")
      scheme <- Gen.oneOf("https://www.", "http://")
      q <- Gen.oneOf("", "?utm=1", "#f")
      ts <- Gen.chooseNum(0L, 5L)
    } yield (id, s"$scheme$host$path$q", ts)
    val prop = Prop.forAllNoShrink(
        Gen.nonEmptyListOf(genRow), Gen.chooseNum(1, 7)) { (rows0, parts) =>
      // ids must be unique (they are the dedup tie-break)
      val rows = rows0.groupBy(_._1).map(_._2.head).toList
      val df = rows.toDF("doc_id", "url", "ts").repartition(parts)
      val got = graft.ops.TextOps.urlDedup(df, "doc_id", "url", "ts")
        .select(col("canonical_url"), col("doc_id"), col("n_fetches"))
        .as[(String, Long, Long)].collect().toSet
      def canon(u: String): String = {
        val host = u.replaceFirst("^[A-Za-z][A-Za-z0-9+.-]*://", "")
          .takeWhile(c => c != '/' && c != '?' && c != '#')
          .toLowerCase.replaceFirst("^www\\.", "")
        val rest = u.replaceFirst("^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+", "")
          .takeWhile(c => c != '?' && c != '#')
        host + "/" + rest.reverse.dropWhile(_ == '/').reverse
      }
      val want = rows.groupBy(r => canon(r._2)).map { case (c, rs) =>
        val win = rs.minBy(r => (-r._3, r._1))
        (c, win._1, rs.size.toLong)
      }.toSet
      got == want
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
  }

  test("curate: the sampled output is exactly the threshold-filtered unsampled output") {
    // semantics-first stage order: sampling LAST means a sampled run
    // equals the keep-all run filtered by the id threshold — the
    // winner of a dup cluster and the contamination verdict cannot
    // depend on the sample
    val spark = SparkTestSession.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val base = "the quick brown fox jumps over the lazy dog near the old barn " +
      "while the cat naps by the warm fire and the birds sing songs"
    val gen = Gen.listOfN(12, Gen.chooseNum(1L, 30L)).map(_.distinct)
    val prop = Prop.forAllNoShrink(gen.suchThat(_.nonEmpty)) { ids =>
      val corpus = ids.map(i => (i, base + " doc " + (i % 3))).toDF("doc_id", "text")
      val testSet = Seq((100L, "eval only phrase nothing shared here with corpus text")
        ).toDF("doc_id", "text")
      def run(th: String) = graft.ops.CurationOps
        .curate(corpus, testSet, "doc_id", "text", sampleThresholdHex = th)
        .select(col("doc_id")).as[Long].collect().toSet
      val all = run("g")
      val sampled = run("8")
      val wantSampled = all.filter { id =>
        java.security.MessageDigest.getInstance("MD5")
          .digest(id.toString.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString < "8"
      }
      sampled == wantSampled
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("duplicateSpans equals the brute-force island merge on random corpora") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val n = 3
    val genDoc = Gen.listOfN(12, Gen.oneOf("a", "b", "c", "d"))
      .map(_.mkString(" "))
    val prop = Prop.forAllNoShrink(Gen.listOfN(5, genDoc)) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val got = graft.ops.TextOps
        .duplicateSpans(docs.toDF("doc_id", "text"), "doc_id", "text", n)
        .as[(Long, Int, Int, Int)].collect().toSet
      // reference: count every overlapping n-gram corpus-wide, mark
      // window starts whose gram repeats, merge overlapping/abutting
      // ranges per document
      val toks = docs.map { case (id, t) =>
        id -> t.split("\\s+").filter(_.nonEmpty).toSeq
      }
      val counts = toks.flatMap { case (_, w) =>
        w.sliding(n).filter(_.size == n).map(_.mkString(" "))
      }.groupBy(identity).view.mapValues(_.size).toMap
      val want = toks.flatMap { case (id, w) =>
        val marked = w.sliding(n).zipWithIndex
          .filter { case (g, _) => g.size == n && counts(g.mkString(" ")) > 1 }
          .map(_._2).toList
        val islands = marked.foldLeft(List.empty[(Int, Int)]) {
          case (acc, p) => acc match {
            case (s, e) :: rest if p <= e => (s, math.max(e, p + n)) :: rest
            case _ => (p, p + n) :: acc
          }
        }.reverse
        islands.map { case (s, e) => (id, s, e, e - s) }
      }.toSet
      // the APPLY form: keep-first marking (an occurrence is cut iff
      // an earlier (doc, pos) has the same gram), then reassembly
      val gotCut = graft.ops.TextOps
        .cutDuplicateSpans(docs.toDF("doc_id", "text"), "doc_id", "text", n)
        .as[(Long, String, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      val firstAt = toks.flatMap { case (id, w) =>
        w.sliding(n).zipWithIndex.collect {
          case (g, p) if g.size == n => (g.mkString(" "), (id, p))
        }
      }.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
      val wantCut = toks.map { case (id, w) =>
        val marked = w.sliding(n).zipWithIndex.collect {
          case (g, p) if g.size == n &&
            firstAt(g.mkString(" ")) != ((id, p)) => p
        }.toList
        val islands = marked.foldLeft(List.empty[(Int, Int)]) {
          case (acc, p) => acc match {
            case (s, e) :: rest if p <= e => (s, math.max(e, p + n)) :: rest
            case _ => (p, p + n) :: acc
          }
        }
        val cut = islands.map { case (s, e) => e - s }.sum
        val kept = w.zipWithIndex.collect {
          case (t, i) if !islands.exists { case (s, e) => i >= s && i < e } => t
        }
        id -> ((kept.mkString(" "), w.size.toLong, cut.toLong))
      }.toMap
      got == want && gotCut == wantCut
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }
}
