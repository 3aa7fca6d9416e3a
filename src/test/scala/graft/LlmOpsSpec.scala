package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops._

class LlmOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._
  val sf = "/root/testdata/sf0.001"

  def docs = graft.sources.ImportSource.table(spark, sf, "documents")
  def embeddings = graft.sources.ImportSource.table(spark, sf, "embeddings")

  test("exact dedup groups identical normalized text") {
    val df = Seq(
      (1L, "Hello   world"), (2L, "hello world"), (3L, "different")
    ).toDF("doc_id", "text")
    val groups = DedupOps.exactDuplicates(df, "doc_id", "text")
      .select("canonical_id", "n_copies").as[(Long, Long)].collect().toSet
    assert(groups == Set((1L, 2L), (3L, 1L))) // case+whitespace-normalized dup
  }

  test("minhash: identical docs share signatures; near-dups share most positions") {
    val df = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d e f g h i j"), // identical
      (3L, "a b c d e f g h i k"), // one token differs
      (4L, "z y x w v u t s r q") // disjoint
    ).toDF("doc_id", "text")
    val sigs = df.select($"doc_id",
        DedupOps.minhashSignature($"text", 16).as("sig"))
      .as[(Long, Seq[String])].collect().toMap
    assert(sigs(1L) == sigs(2L))
    val sharedNear = sigs(1L).zip(sigs(3L)).count { case (a, b) => a == b }
    val sharedFar = sigs(1L).zip(sigs(4L)).count { case (a, b) => a == b }
    assert(sharedNear > sharedFar)
    assert(sharedFar == 0)
  }

  test("LSH near-dup pipeline surfaces the duplicate pair with jaccard 1.0") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog today"),
      (3L, "completely unrelated text about spark query engines here")
    ).toDF("doc_id", "text")
    val pairs = DedupOps.nearDuplicates(df, "doc_id", "text", threshold = 0.7)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
    assert(pairs.toSeq == Seq((1L, 2L, 1.0)))
  }

  test("simhash: hamming distance near for near-dups, far for unrelated") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (3L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val hashes = df.select($"doc_id", DedupOps.simhash($"text").as("h"))
      .as[(Long, Long)].collect().toMap
    val near = java.lang.Long.bitCount(hashes(1L) ^ hashes(2L))
    val far = java.lang.Long.bitCount(hashes(1L) ^ hashes(3L))
    assert(near < far)
  }

  test("cosine top-k: self-similarity is 1.0 and ranks first") {
    val query = embeddings.where($"vec_id" === 0)
      .select($"embedding").collect()(0).getSeq[Float](0)
    val top = SimilarityOps.cosineTopK(embeddings, "vec_id", "embedding", query, 5)
      .as[(Long, Double)].collect()
    assert(top.head._1 == 0L && math.abs(top.head._2 - 1.0) < 1e-6)
    assert(top.map(_._2).sliding(2).forall(p => p(0) >= p(1))) // descending
  }

  test("ANN top-k recall vs brute force is reasonable with multi-probe") {
    val query = embeddings.where($"vec_id" === 7)
      .select($"embedding").collect()(0).getSeq[Float](0)
    val exact = SimilarityOps.cosineTopK(embeddings, "vec_id", "embedding", query, 10)
      .as[(Long, Double)].collect().map(_._1).toSet
    val ann = SimilarityOps.annTopK(embeddings, "vec_id", "embedding", query,
        10, planes = 4, probe = 1)
      .as[(Long, Double)].collect().map(_._1).toSet
    // 4 planes + probe-1 covers 5/16 of bucket space; self must be found
    assert(ann.contains(7L))
    assert((exact intersect ann).size >= 3,
      s"recall too low: ${(exact intersect ann).size}/10")
  }

  test("PQ codebooks reconstruct codes deterministically and ADC+re-rank recalls well") {
    val query = embeddings.where($"vec_id" === 7)
      .select($"embedding").collect()(0).getSeq[Float](0)
    val codebooks = SimilarityOps.pqCodebooks(
      embeddings, "vec_id", "embedding", m = 8, k = 16, iterations = 3)
    assert(codebooks.length == 8 && codebooks.forall(_.length == 16))
    assert(codebooks.forall(_.forall(_.length == query.length / 8)))
    // codes are total (every subspace assigns a real code)
    val codes = embeddings
      .select(SimilarityOps.pqEncode($"embedding", codebooks).as("c"))
    assert(codes.where(array_contains($"c", -1)).isEmpty)
    val exact = SimilarityOps.cosineTopK(embeddings, "vec_id", "embedding", query, 10)
      .as[(Long, Double)].collect().map(_._1).toSet
    val pq = SimilarityOps.pqTopK(embeddings, "vec_id", "embedding",
        query, codebooks, 10, refine = 4)
      .as[(Long, Double)].collect()
    assert(pq.map(_._1).contains(7L), "self not found")
    // re-ranked scores are exact cosines, so survivors rank correctly
    assert(pq.map(_._2).sliding(2).forall(p => p(0) >= p(1)))
    val recall = (exact intersect pq.map(_._1).toSet).size
    assert(recall >= 5, s"PQ recall too low: $recall/10")
  }

  test("IVF top-k: probing nearest cells finds the query's own vector and real neighbors") {
    val all = embeddings.select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect().toMap
    // centroids = a fixed seed sample (stand-in for trained k-means)
    val centroids = Seq(0L, 100L, 200L, 300L).map(all(_))
    val query = all(42L)
    val exact = SimilarityOps.cosineTopK(embeddings, "vec_id", "embedding", query, 10)
      .as[(Long, Double)].collect().map(_._1).toSet
    val ivf = SimilarityOps.ivfTopK(embeddings, "vec_id", "embedding",
        query, centroids, 10, nprobe = 2)
      .as[(Long, Double)].collect().map(_._1).toSet
    assert(ivf.contains(42L))
    assert((exact intersect ivf).size >= 3,
      s"IVF recall too low: ${(exact intersect ivf).size}/10")
    // cell assignment is deterministic and total
    val cells = embeddings.select(
        SimilarityOps.ivfAssign($"embedding", centroids).as("c"))
      .as[Int].collect()
    assert(cells.forall(c => c >= 0 && c < centroids.size))
  }

  test("annRecall agrees with the model: hand-computed exact∩probed per query") {
    val all = embeddings.select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect().toMap
    val centroids = Seq(0L, 100L, 200L, 300L).map(all(_))
    val queries = embeddings.where($"vec_id" % 150 === 0)
      .select($"vec_id".as("qid"), $"embedding")
    val got = SimilarityOps.annRecall(embeddings, "vec_id", "embedding",
        queries, "qid", "embedding", centroids, k = 10, nprobe = 2)
      .orderBy($"qid")
      .as[(Long, Long, Double)].collect()
    // model: ranks on the 6-dp rounded cosine with id tie-break, the
    // same rule the operator documents
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      if (na * nb == 0) 0.0 else d / (na * nb)
    }
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val cellOf = all.map { case (id, v) =>
      id -> centroids.zipWithIndex.maxBy { case (c, i) => (cos(v, c), -i) }._2
    }
    got.foreach { case (qid, nHits, recall) =>
      val qv = all(qid)
      val ranked = all.toSeq
        .map { case (id, v) => (id, r6(cos(v, qv))) }
        .sortBy { case (id, c) => (-c, id) }
      val exact = ranked.take(10).map(_._1).toSet
      val probe = centroids.indices
        .sortBy(i => (-cos(qv, centroids(i)), i)).take(2).toSet
      val probed = ranked.filter(p => probe(cellOf(p._1))).take(10)
        .map(_._1).toSet
      assert(nHits == (exact intersect probed).size.toLong, s"qid $qid")
      assert(recall == r6(nHits / 10.0))
    }
    // with nprobe = all cells the probe side IS the exact scan
    val full = SimilarityOps.annRecall(embeddings, "vec_id", "embedding",
        queries, "qid", "embedding", centroids, k = 10,
        nprobe = centroids.size)
      .as[(Long, Long, Double)].collect()
    assert(full.forall(_._3 == 1.0))
  }

  test("IVF-partitioned store: pruned read equals in-memory path") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_store").toString
    val all = embeddings.select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect().toMap
    val centroids = Seq(0L, 100L, 200L, 300L).map(all(_))
    val query = all(42L)
    SimilarityOps.writeIvfPartitioned(
      embeddings, "vec_id", "embedding", centroids, dir)
    val stored = SimilarityOps.ivfTopKPartitioned(
      spark, dir, "vec_id", "embedding", query, centroids, 10, nprobe = 2)
    val mem = SimilarityOps.ivfTopK(embeddings, "vec_id", "embedding",
      query, centroids, 10, nprobe = 2)
    assert(stored.as[(Long, Double)].collect().toSeq ==
      mem.as[(Long, Double)].collect().toSeq)
    val scan = stored.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [cell"), scan)
  }

  test("ANN store upsert: append resolves latest-wins, compaction re-homes moved ids") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_upsert").toString + "/store"
    def v(xs: Double*): Seq[Float] = xs.map(_.toFloat)
    val c0 = v(1, 0, 0, 0); val c1 = v(0, 1, 0, 0)
    val centroids = Seq(c0, c1)
    val base = Seq(
      (1L, v(1, 0, 0, 0)),      // cell 0
      (2L, v(0.9, 0.1, 0, 0)),  // cell 0 — updated by gen 1 below
      (3L, v(0, 0.9, 0, 0.1))). // cell 1
      toDF("vec_id", "embedding")
    SimilarityOps.writeIvfPartitioned(base, "vec_id", "embedding", centroids, dir)
    // gen 1: id 2 re-embedded into cell 1 (a cell MOVE), id 4 inserted
    val delta = Seq(
      (2L, v(0, 1, 0, 0)),
      (4L, v(0.8, 0.2, 0, 0))).toDF("vec_id", "embedding")
    SimilarityOps.appendIvfPartitioned(delta, "vec_id", "embedding",
      centroids, dir, gen = 1L)

    // all cells probed: merge-on-read is exact — id 2 answers with its
    // NEW vector (cosine 0 to the query), never its stale gen-0 row
    val all = SimilarityOps.ivfTopKPartitioned(spark, dir, "vec_id",
        "embedding", c0, centroids, k = 10, nprobe = 2)
      .as[(Long, Double)].collect().toMap
    assert(all.keySet == Set(1L, 2L, 3L, 4L))
    assert(all(1L) == 1.0 && all(2L) == 0.0, all.toString)

    // single-cell probe BEFORE compaction: id 2's stale gen-0 row
    // still lives in cell 0 and shadows (documented freshness trade)
    val stale = SimilarityOps.ivfTopKPartitioned(spark, dir, "vec_id",
        "embedding", c0, centroids, k = 10, nprobe = 1)
      .as[(Long, Double)].collect().toMap
    assert(stale.contains(2L) && stale(2L) > 0.9, stale.toString)

    // compaction folds the log: one row per id, moved ids re-homed —
    // the narrow probe no longer sees id 2, and the wide probe's
    // answer is unchanged
    SimilarityOps.compactIvfPartitioned(spark, dir, "vec_id", "embedding", centroids)
    assert(spark.read.parquet(dir).count() == 4)
    val narrow = SimilarityOps.ivfTopKPartitioned(spark, dir, "vec_id",
        "embedding", c0, centroids, k = 10, nprobe = 1)
      .as[(Long, Double)].collect().toMap
    assert(!narrow.contains(2L), narrow.toString)
    val wide = SimilarityOps.ivfTopKPartitioned(spark, dir, "vec_id",
        "embedding", c0, centroids, k = 10, nprobe = 2)
      .as[(Long, Double)].collect().toMap
    assert(wide == all, s"compaction changed the wide-probe answer: $wide vs $all")

    // generations survive compaction: a later append still wins
    SimilarityOps.appendIvfPartitioned(
      Seq((4L, v(0, 0, 1, 0))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", centroids, dir, gen = 2L)
    val after = SimilarityOps.ivfTopKPartitioned(spark, dir, "vec_id",
        "embedding", c0, centroids, k = 10, nprobe = 2)
      .as[(Long, Double)].collect().toMap
    assert(after(4L) == 0.0, after.toString)
  }

  test("ANN store compaction recovers every crash window of the two-rename swap") {
    val root = java.nio.file.Files.createTempDirectory("ivf_crash").toString
    val dir = root + "/store"
    def v(xs: Double*): Seq[Float] = xs.map(_.toFloat)
    val centroids = Seq(v(1, 0), v(0, 1))
    SimilarityOps.writeIvfPartitioned(
      Seq((1L, v(1, 0)), (2L, v(0, 1))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", centroids, dir)
    SimilarityOps.appendIvfPartitioned(
      Seq((2L, v(0.9, 0.1))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", centroids, dir, gen = 1L)
    def read() = SimilarityOps.ivfTopKPartitioned(spark, dir, "vec_id",
        "embedding", v(1, 0), centroids, k = 5, nprobe = 2)
      .as[(Long, Double)].collect().toMap
    val expect = read()

    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    // crash window 1: first rename done, second never ran — no store
    // at `path`, full copy at `_prev`. Compaction must restore + fold.
    assert(fs.rename(p(dir), p(dir + "_prev")))
    SimilarityOps.compactIvfPartitioned(spark, dir, "vec_id", "embedding", centroids)
    assert(read() == expect)
    assert(!fs.exists(p(dir + "_prev")) && !fs.exists(p(dir + "_compacting")))
    assert(spark.read.parquet(dir).count() == 2) // folded: one row per id

    // crash window 2: swap completed but `_prev` cleanup didn't run —
    // stale copy next to a live store. Compaction must drop it, not
    // resurrect it.
    SimilarityOps.appendIvfPartitioned(
      Seq((1L, v(0.8, 0.2))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", centroids, dir, gen = 2L)
    val expect2 = read()
    fs.mkdirs(p(dir + "_prev")) // stale junk standing in for an old copy
    SimilarityOps.compactIvfPartitioned(spark, dir, "vec_id", "embedding", centroids)
    assert(read() == expect2)
    assert(!fs.exists(p(dir + "_prev")))
  }

  test("bucketed neighbor pairs never cross buckets and are cosine-filtered") {
    val pairs = SimilarityOps.bucketedNeighborPairs(
      embeddings, "vec_id", "embedding", planes = 2, minCosine = 0.5)
    val withB = embeddings.select($"vec_id",
      SimilarityOps.srpBucket($"embedding", 2, 64).as("b"))
      .as[(Long, Long)].collect().toMap
    pairs.as[(Long, Long, Double)].collect().foreach { case (a, b, c) =>
      assert(withB(a) == withB(b))
      assert(c >= 0.5)
    }
  }

  test("int8 quantization round-trips within 1/127 of max component") {
    val got = embeddings.select(
        $"embedding",
        SimilarityOps.quantizeScale($"embedding").as("scale"),
        SimilarityOps.dequantize(
          SimilarityOps.quantize($"embedding"),
          SimilarityOps.quantizeScale($"embedding")).as("back"))
      .collect()
    got.foreach { r =>
      val orig = r.getSeq[Float](0)
      val back = r.getSeq[Double](2)
      val maxAbs = orig.map(x => math.abs(x.toDouble)).max
      orig.zip(back).foreach { case (o, b) =>
        assert(math.abs(o.toDouble - b) <= maxAbs / 127.0 / 2 + 1e-9,
          s"quantization error too large: $o vs $b")
      }
    }
  }

  test("language id picks profile with most stopword hits") {
    val df = Seq(
      (1L, "the cat and the dog in a house"),
      (2L, "der hund und die katze ist nicht da"),
      (3L, "xyzzy qwerty asdf")
    ).toDF("doc_id", "text")
    val got = df.select($"doc_id", TextOps.languageId($"text").as("l"))
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "en", 2L -> "de", 3L -> "unknown"))
  }

  test("quality score is in [0,1] and ranks real text above junk") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs to the house in the field"),
      (2L, "!!!! #### $$$$ %%%% 1234 !!!! #### $$$$")
    ).toDF("doc_id", "text")
    val got = df.select($"doc_id", TextOps.qualityScore($"text").as("q"))
      .as[(Long, Double)].collect().toMap
    assert(got.values.forall(v => v >= 0.0 && v <= 1.0))
    assert(got(1L) > got(2L))
  }

  test("token count handles empty and whitespace-only text") {
    val df = Seq((1L, ""), (2L, "   "), (3L, "one two three")).toDF("doc_id", "text")
    val got = df.select($"doc_id", TextOps.tokenCount($"text").as("n"))
      .as[(Long, Int)].collect().toMap
    assert(got == Map(1L -> 0, 2L -> 0, 3L -> 3))
  }

  test("sessionize splits on gap and is contiguous per user") {
    val rows = Seq(
      (1L, "2024-01-01 00:00:00"), (1L, "2024-01-01 00:10:00"), // session 1
      (1L, "2024-01-01 01:10:00"), // > 30 min gap -> session 2
      (2L, "2024-01-01 05:00:00")) // other user -> own session 1
    val df = rows.map { case (u, ts) => (u, java.sql.Timestamp.valueOf(ts)) }
      .toDF("user_id", "ts")
    val got = ChangelogOps.sessionize(df, $"user_id", $"ts", 1800L)
      .select("user_id", "ts", "session_id")
      .as[(Long, java.sql.Timestamp, Long)].collect()
      .map(r => (r._1, r._2.toString, r._3)).toSet
    assert(got == Set(
      (1L, "2024-01-01 00:00:00.0", 1L), (1L, "2024-01-01 00:10:00.0", 1L),
      (1L, "2024-01-01 01:10:00.0", 2L), (2L, "2024-01-01 05:00:00.0", 1L)))
  }

  test("multimodal: stub decode plumbing produces per-row features and frames") {
    import MultimodalOps._
    val payload1 = Array.tabulate[Byte](100)(i => i.toByte)
    val payload2 = Array.tabulate[Byte](50)(i => (i * 3).toByte)
    val rows = Seq(
      Row(1L, payload1, Row("image", 10, 10, null, null)),
      Row(2L, payload2, Row("video", 5, 5, null, 2000)),
      Row(3L, Array.emptyByteArray, Row("audio", null, null, 16000, 1000)))
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), mediaSchema())
    val decoder = new StubDecoder(featureDim = 4)
    val feats = extractFeatures(media, decoder, batchSize = 2)
    val collected = feats.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](2)).toMap
    assert(collected.keySet == Set(1L, 2L, 3L))
    assert(collected(1L).length == 4)
    assert(collected(3L).forall(_ == 0.0f)) // empty payload -> zero features
    // determinism: same input, same features
    val again = extractFeatures(media, decoder, batchSize = 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](2)).toMap
    assert(again == collected)
    // frame offsets: every Nth byte of the payload
    assert(decoder.frameOffsets(payload2, 20).toSeq == Seq(0L, 20L, 40L))
    // resize: payload decimated, metadata dims rewritten, schema kept
    val resized = resize(media, decoder, 4, 4)
    assert(resized.schema == media.schema)
    val r1 = resized.where(col("media_id") === 1L).collect()(0)
    assert(r1.getAs[Array[Byte]]("payload").length <= 16 + 1)
    assert(r1.getStruct(2).getInt(1) == 4 && r1.getStruct(2).getInt(2) == 4)
  }

  test("multimodal: dHash near-dup finds re-encoded/noised copies, not distinct images") {
    import MultimodalOps._
    def png(im: java.awt.image.BufferedImage): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, "png", bos)
      bos.toByteArray
    }
    // 36x32 grid of 4px blocks, block luma from a deterministic
    // LCG of (bx, by, seed) — structured detail that survives the
    // 9x8 downscale (each block ≈ one hash cell), unlike a smooth
    // gradient whose horizontal deltas all share one sign
    def blocks(seed: Int, noise: Int): java.awt.image.BufferedImage = {
      val im = new java.awt.image.BufferedImage(
        36, 32, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 32; x <- 0 until 36) {
        // xor-of-products then a multiply-shift: avalanched per block,
        // NOT additive in the seed (a seed that only shifted global
        // brightness would leave the dHash unchanged by design)
        val m = ((x / 4) * 73856093) ^ ((y / 4) * 19349663) ^ (seed * 83492791)
        val base = (((m.toLong * 2654435761L) >>> 24) & 0xff).toInt
        val v = math.max(0, math.min(255,
          base + (if ((x + y) % 5 == 0) noise else 0)))
        im.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      im
    }
    val rows = Seq(
      Row(1L, png(blocks(1, 0)), Row("image", 36, 32, null, null)),
      Row(2L, png(blocks(1, 10)), Row("image", 36, 32, null, null)), // noised copy
      Row(3L, png(blocks(7, 0)), Row("image", 36, 32, null, null)), // different image
      Row(4L, Array[Byte](9, 9, 9), Row("image", null, null, null, null))) // corrupt
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), mediaSchema())

    val hashes = perceptualHashes(media).collect()
      .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long])).toMap
    assert(hashes(4L).isEmpty, "corrupt payload must yield null, not fail")
    assert(hashes(1L).isDefined && hashes(3L).isDefined)
    assert(java.lang.Long.bitCount(hashes(1L).get ^ hashes(2L).get) <= 3,
      "mild noise must stay within the dHash near-dup radius")
    assert(java.lang.Long.bitCount(hashes(1L).get ^ hashes(3L).get) > 10,
      "a structurally different image must be far in bit distance")

    val pairs = nearDuplicateImages(media, maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)), s"got $pairs")
    // empty input: no pairs, no failure
    assert(nearDuplicateImages(media.where(lit(false))).count() == 0)
  }

  test("multimodal: selfScalingBands widens slices at the integer-exact thresholds") {
    import MultimodalOps.selfScalingBands
    // width = max(8, ceil(log2 n) - 3) rounded up to a divisor of 64;
    // bands = 64/width. Boundaries are exact (64 - nlz), not float-log.
    assert(selfScalingBands(0L) == 8 && selfScalingBands(1L) == 8)
    assert(selfScalingBands(500L) == 8)
    assert(selfScalingBands(2048L) == 8, "n = 2^11 is the last 8-band size")
    assert(selfScalingBands(2049L) == 4)
    assert(selfScalingBands(524288L) == 4, "n = 2^19 is the last 4-band size")
    assert(selfScalingBands(524289L) == 2)
    assert(selfScalingBands(1L << 35) == 2, "n = 2^35 is the last 2-band size")
    assert(selfScalingBands((1L << 35) + 1) == 1,
      "past 2^35 only exact-hash duplicates are honest at 64 bits")
    // the ceiling the rule holds: expected bucket n/2^(64/bands) <= 8
    for (n <- Seq(100L, 2048L, 2049L, 1000000L, 524289L, 1L << 30)) {
      val width = 64 / selfScalingBands(n)
      if (width < 64)
        assert(n.toDouble / math.pow(2, width) <= 8.0,
          s"n=$n width=$width breaks the bucket budget")
    }
  }

  test("multimodal: bandedHammingPairsAuto matches the fixed-band spelling at small n") {
    import MultimodalOps._
    // synthetic 60-bit hashes, the q201 construction: 16-id clusters
    // share a base, each member flips one distinct bit
    val hashes = spark.range(0, 400).toDF("media_id")
      .select(col("media_id"),
        conv(substring(md5(expr("cast(media_id div 16 as string)")), 1, 15), 16, 10)
          .cast("long")
          .bitwiseXOR(expr("shiftleft(cast(1 as bigint), cast(media_id % 60 as int))"))
          .as("phash"))
    // n = 400 => selfScalingBands = 8; radius bands-1 = 7 covers every
    // distance-2 intra-cluster pair, exactly like the 4-band default
    val auto = bandedHammingPairsAuto(hashes, "phash", maxHamming = 3)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect().toSet
    val fixed = bandedHammingPairs(hashes, "phash", maxHamming = 3, bands = 4)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect().toSet
    assert(auto == fixed && auto.size == 25 * (16 * 15) / 2,
      s"auto=${auto.size} fixed=${fixed.size}")
    assert(auto.forall(_._3 == 2), "intra-cluster pairs sit at Hamming 2")
  }

  test("multimodal: ImageIoDecoder decodes a real PNG through the distributed plan") {
    import MultimodalOps._
    // render a real 8x4 PNG in memory: left half pure red, right half
    // pure blue — known dimensions and channel means
    val img = new java.awt.image.BufferedImage(
      8, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 4; x <- 0 until 8)
      img.setRGB(x, y, if (x < 4) 0xff0000 else 0x0000ff)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val png = bos.toByteArray

    val rows = Seq(
      Row(1L, png, Row("image", 8, 4, null, null)),
      Row(2L, Array[Byte](1, 2, 3), Row("image", null, null, null, null)), // corrupt
      Row(3L, Array.tabulate[Byte](50)(_.toByte), Row("audio", null, null, 16000, 1000)))
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), mediaSchema())
    val decoder = new ImageIoDecoder()
    val feats = extractFeatures(media, decoder, batchSize = 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](2)).toMap
    // real decode: [w/4096, h/4096, aspect, meanR, meanG, meanB, ...]
    val f1 = feats(1L)
    assert(math.abs(f1(0) - 8 / 4096.0f) < 1e-6 &&
      math.abs(f1(1) - 4 / 4096.0f) < 1e-6)
    assert(math.abs(f1(2) - 2.0f) < 1e-6) // aspect 8:4
    assert(math.abs(f1(3) - 0.5f) < 1e-3 && // half the pixels red
      math.abs(f1(4) - 0.0f) < 1e-3 &&
      math.abs(f1(5) - 0.5f) < 1e-3) // half blue
    // corrupt image and non-image kinds degrade to byte stats, not task failure
    assert(feats(2L).length == 8 && feats(3L).length == 8)

    // REAL resize: 8x4 -> 4x2, output re-decodes with the new dims and
    // stays solid-colored halves
    val resized = resize(media, decoder, 4, 2)
    val out = resized.where(col("media_id") === 1L)
      .collect()(0).getAs[Array[Byte]]("payload")
    val back = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(out))
    assert(back.getWidth == 4 && back.getHeight == 2)
    assert((back.getRGB(0, 0) & 0xff0000) != 0 && (back.getRGB(3, 1) & 0xff) != 0)
  }

  test("multimodal: AudioWavDecoder decodes a real WAV through the distributed plan") {
    import MultimodalOps._
    // synthesize a real 16-bit mono WAV in memory: 8000 Hz, 0.5s,
    // 440 Hz full-scale sine — known rate, duration, RMS (1/sqrt(2))
    val rate = 8000f
    val nFrames = 4000
    val pcm = new Array[Byte](nFrames * 2)
    for (i <- 0 until nFrames) {
      val s = (math.sin(2 * math.Pi * 440 * i / rate) * 32767).toInt
      pcm(2 * i) = (s & 0xff).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(rate, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val wav = bos.toByteArray

    val rows = Seq(
      Row(1L, wav, Row("audio", null, null, 8000, 500)),
      Row(2L, Array[Byte](9, 9, 9), Row("audio", null, null, null, null)), // corrupt
      Row(3L, Array.tabulate[Byte](50)(_.toByte), Row("image", 5, 5, null, null)))
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), mediaSchema())
    val decoder = new AudioWavDecoder()
    val feats = extractFeatures(media, decoder, batchSize = 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](2)).toMap
    // real decode: [rate/48000, channels, duration_s, rms, peak, zcr, mean, std]
    val f1 = feats(1L)
    assert(math.abs(f1(0) - 8000 / 48000.0f) < 1e-4)
    assert(f1(1) == 1.0f)
    assert(math.abs(f1(2) - 0.5f) < 1e-3) // 4000 frames @ 8 kHz
    assert(math.abs(f1(3) - (1.0 / math.sqrt(2)).toFloat) < 0.01) // sine RMS
    assert(f1(4) > 0.98f && f1(4) <= 1.0f) // full-scale peak
    // 440 Hz sine at 8 kHz: ~880 sign flips/s -> zcr ~ 880/8000 = 0.11
    assert(math.abs(f1(5) - 0.11f) < 0.01)
    assert(math.abs(f1(6)) < 0.01) // zero-mean sine
    // corrupt audio and non-audio kinds degrade to byte stats, not task failure
    assert(feats(2L).length == 8 && feats(3L).length == 8)

    // frame seek table: header-aware, every-Nth PCM frame × frame size
    val offs = decoder.frameOffsets(wav, everyNth = 1000)
    assert(offs.toSeq == Seq(0L, 2000L, 4000L, 6000L)) // 2-byte mono frames
  }

  test("multimodal: Mp4Decoder parses a real ISO-BMFF container through the distributed plan") {
    import MultimodalOps._
    val mp4 = LlmOpsSpec.sampleMp4

    val rows = Seq(
      Row(1L, mp4, Row("video", 320, 240, null, 5000)),
      Row(2L, Array[Byte](7, 7, 7, 7), Row("video", null, null, null, null)), // corrupt
      Row(3L, Array.tabulate[Byte](50)(_.toByte), Row("image", 5, 5, null, null)))
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), mediaSchema())
    val decoder = new Mp4Decoder()
    val feats = extractFeatures(media, decoder, batchSize = 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](2)).toMap
    // [dur_s, w/4096, h/4096, tracks, fps, samples, keyframes, meanBytes/1e6]
    val f1 = feats(1L)
    assert(math.abs(f1(0) - 5.0f) < 1e-5) // mvhd 3000/600
    assert(math.abs(f1(1) - 320 / 4096.0f) < 1e-6 &&
      math.abs(f1(2) - 240 / 4096.0f) < 1e-6)
    assert(f1(3) == 1.0f) // one track
    assert(math.abs(f1(4) - 2.0f) < 1e-5) // 10 samples / 5s (mdhd)
    assert(f1(5) == 10.0f && f1(6) == 4.0f)
    assert(math.abs(f1(7) - 5.5e-5f) < 1e-9) // mean sample 55 bytes
    // corrupt container and non-video kinds degrade, not fail
    assert(feats(2L).length == 8 && feats(3L).length == 8)

    // keyframe seek table resolved through stsc/stco/stsz, demuxer-style:
    // sync samples 1,4,7,10 -> chunk base + preceding in-chunk sizes
    assert(decoder.frameOffsets(mp4, 1).toSeq == Seq(28L, 88L, 238L, 478L))
  }

  test("bpeTrain learns the hand-computed merge sequence; encoder agrees") {
    // low x5, lower x2, newest x6, widest x3 — the classic corpus:
    // round-by-round argmax (count desc, pair asc) gives
    // es, est, lo, low, ew, ewest
    val corpus = Seq(
      (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
        Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    ).toDF("text")
    val merges = TextOps.bpeTrain(corpus, "text", 6)
    assert(merges == Seq("e" -> "s", "es" -> "t", "l" -> "o",
      "lo" -> "w", "e" -> "w", "ew" -> "est"), merges.toString)
    assert(TextOps.bpeSegment("newest", merges) == Seq("n", "ewest"))
    assert(TextOps.bpeSegment("lowest", merges) == Seq("low", "est"))
    assert(TextOps.bpeSegment("low", merges) == Seq("low"))
    // overlap folds greedily left-to-right: aaa under (a,a) -> [aa, a]
    assert(TextOps.bpeSegment("aaa", Seq("a" -> "a")) == Seq("aa", "a"))
    // early stop: singleton pairs never merge (minPairCount = 2)
    val tiny = Seq("ab cd").toDF("text")
    assert(TextOps.bpeTrain(tiny, "text", 5) == Seq.empty)
  }

  test("bpeEncode: distributed encoding == reference encoder per word, zero shuffles") {
    val merges = Seq("e" -> "s", "es" -> "t", "l" -> "o",
      "lo" -> "w", "e" -> "w", "ew" -> "est")
    val docs = Seq(
      (1L, "low lower NEWEST"),
      (2L, "  lowest  widest "),
      (3L, ""),
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val got = TextOps.bpeEncode(docs, "doc_id", "text", merges)
      .as[(Long, Seq[String])].collect().toMap
    def ref(text: String) = text.trim.toLowerCase.split("\\s+")
      .filter(_.nonEmpty).flatMap(w => TextOps.bpeSegment(w, merges)).toSeq
    assert(got(1L) == ref("low lower NEWEST"))
    assert(got(2L) == ref("  lowest  widest "))
    assert(got(3L) == Seq.empty && got(4L) == Seq.empty)
    // embarrassingly parallel: no exchange anywhere in the plan
    val plan = TextOps.bpeEncode(docs, "doc_id", "text", merges)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"bpeEncode must not shuffle:\n$plan")
    // partitioning-invariant output
    val got7 = TextOps.bpeEncode(docs.repartition(7), "doc_id", "text", merges)
      .as[(Long, Seq[String])].collect().toMap
    assert(got7 == got)
  }

  test("jaccardNearDuplicates blocks on the min-shingle fingerprint") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"), // shares shingles
      (3L, "completely unrelated text with different words entirely")
    ).toDF("doc_id", "text")
    val pairs = DedupOps.jaccardNearDuplicates(df, "doc_id", "text", threshold = 0.0)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    // docs 1 and 2 share their minimal shingle (prefix identical), 3 is alone
    assert(pairs == Set((1L, 2L)))
    // identical docs always pair with jaccard 1.0
    val dup = Seq((1L, "a b c d e"), (2L, "a b c d e")).toDF("doc_id", "text")
    val j = DedupOps.jaccardNearDuplicates(dup, "doc_id", "text", threshold = 0.99)
      .select($"jaccard").as[Double].collect()
    assert(j.toSeq == Seq(1.0))
  }

  test("decontaminate drops exactly the corpus docs sharing an n-gram with the test set") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // contains test 5-gram
      (2L, "one two three four five six seven"), // clean
      (3L, "alpha beta gamma delta zeta different") // 5-gram differs at pos 5
    ).toDF("doc_id", "text")
    val test = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val kept = DedupOps.decontaminate(corpus, test, "doc_id", "text", 5)
      .select($"doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 3L))
    // broadcast of the eval side is in the plan (no corpus shuffle for the probe)
    val plan = DedupOps.decontaminate(corpus, test, "doc_id", "text", 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"eval side must broadcast:\n$plan")
  }

  test("containmentPairs finds prefix/equal pairs via prefix blocking only") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d e f g h"),          // prefix of 1 (and 3)
      (3L, "a b c d e f g h i j"),      // equal to 1
      (4L, "a b c d e f g h x y"),      // shares the 8-block, diverges
      (5L, "a b")).toDF("doc_id", "text") // under the blocking width
    val got = DedupOps.containmentPairs(docs, "doc_id", "text", 8)
      .as[(Long, Long, String)].collect().sortBy(p => (p._1, p._2))
    assert(got.toSeq == Seq(
      (1L, 2L, "b_prefix_of_a"),
      (1L, 3L, "equal"),
      (2L, 3L, "a_prefix_of_b"),
      (2L, 4L, "a_prefix_of_b")))
  }

  test("repetitionStats flags repetitious text, not varied text") {
    val df = Seq(
      (1L, "spam spam spam spam spam spam"), // one token repeated
      (2L, "the quick brown fox jumps high"), // all distinct
      (3L, "ab cd ab cd ab cd ab cd") // dominant bigram
    ).toDF("doc_id", "text")
    val got = TextOps.repetitionStats(df, "doc_id", "text")
      .as[(Long, Double, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L)._1 > 0.8) // dup_token_ratio: 1 - 1/6
    assert(got(1L)._2 == 1.0) // single bigram everywhere
    assert(got(2L)._1 == 0.0 && got(2L)._2 < 0.3)
    assert(got(3L)._2 > 0.5, s"dominant bigram missed: ${got(3L)}")
  }

  test("kmeansCentroids separates well-clustered vectors and feeds ivfTopK") {
    // three tight clusters around orthogonal axes
    def jig(i: Long, d: Int) = (((i * 31 + d * 7) % 11).toFloat - 5f) / 100f
    val rows = (0 until 3).flatMap { c =>
      (0L until 20L).map { i =>
        val base = Array.fill(6)(0.0f)
        base(c * 2) = 1.0f
        val v = base.zipWithIndex.map { case (x, d) => x + jig(c * 20 + i, d) }
        (c * 20 + i, v)
      }
    }
    val df = rows.toDF("vec_id", "embedding")
    val cents = SimilarityOps.kmeansCentroids(df, "vec_id", "embedding", 3, 4)
    assert(cents.size == 3)
    // each trained centroid points dominantly along one cluster axis,
    // and the three axes are all represented
    val axes = cents.map(c => c.indices.maxBy(d => math.abs(c(d)))).toSet
    assert(axes == Set(0, 2, 4), s"centroid axes were $axes")
    // assignment groups each cluster into a single cell
    val cells = df.withColumn("cell",
        SimilarityOps.ivfAssign(col("embedding"), cents))
      .select($"vec_id", $"cell").as[(Long, Int)].collect()
    val byCluster = cells.groupBy(_._1 / 20).view.mapValues(_.map(_._2).toSet)
    assert(byCluster.values.forall(_.size == 1), s"split cluster: $byCluster")
    // probing 1 trained cell finds the query's true neighbors
    val q = rows(5)._2.toSeq
    val top = SimilarityOps.ivfTopK(df, "vec_id", "embedding", q, cents, 5, nprobe = 1)
      .select($"vec_id").as[Long].collect()
    assert(top.forall(_ < 20), s"IVF probe escaped the cluster: ${top.toSeq}")
  }

  test("duplicateClusters: components get the min id; chains converge") {
    // two components: a triangle {1,2,3} and a 4-link chain {10..14}
    // (the chain needs multiple propagation rounds)
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L)
    ).toDF("id_a", "id_b")
    val got = DedupOps.duplicateClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L, 14L -> 10L))
  }

  test("semDedup: cell-blocked threshold dedup keeps the smallest id per dup set") {
    // centroids: one-hot x / one-hot y — vectors cluster by dominant axis
    val cents = Seq(Seq(1.0f, 0.0f), Seq(0.0f, 1.0f))
    val rows = Seq(
      (1L, Seq(1.0f, 0.1f)),  // cell 0
      (2L, Seq(2.0f, 0.2f)),  // cell 0, same direction as 1 -> dup of 1
      (3L, Seq(1.0f, 0.9f)),  // cell 0 (x still dominant), different direction
      (4L, Seq(0.1f, 1.0f)),  // cell 1
      (5L, Seq(0.2f, 2.0f))   // cell 1, same direction as 4 -> dup of 4
    ).toDF("vec_id", "embedding")
    val got = SimilarityOps.semDedup(rows, "vec_id", "embedding", cents, 0.99)
      .select($"id", $"cell", $"kept").as[(Long, Int, Boolean)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == ((0, true)) && got(2L) == ((0, false)), s"$got")
    assert(got(4L) == ((1, true)) && got(5L) == ((1, false)))
    assert(got(3L)._2, "different-direction vector must survive")
    // cross-cell near-dups are NOT candidates (blocked by design):
    // 1 and 4 are dissimilar anyway; pairs only form within cells
  }

  test("twoLevelAssign: blocking keeps growing past the maxSeeds cap, deterministically") {
    // 240 vectors in 3 broad directions with per-id jitter; maxSeeds
    // forced to 3 so single-level blocking would stall at 3 cells
    val rows = (0L until 240L).map { i =>
      val g = (i % 3).toInt
      val v = Array.fill(4)(0.05f)
      v(g) = 1.0f
      v((g + 1) % 4) = 0.1f + (i % 7).toInt * 0.01f
      (i, v.toSeq)
    }.toDF("vec_id", "embedding")
    val a = SimilarityOps.twoLevelAssign(rows, "vec_id", "embedding", maxSeeds = 3)
    val cells = a.select($"id", $"cell").as[(Long, Long)].collect()
    assert(cells.length == 240, "assignment must be total")
    val distinctCells = cells.map(_._2).distinct
    // the point of the path: MORE cells than maxSeeds ever allows a
    // single literal-centroid level (n=240 -> t=16 subcell target ->
    // ~15 subcells across 3 coarse cells)
    assert(distinctCells.length > 3,
      s"expected > maxSeeds cells, got ${distinctCells.length}")
    // composite decode: coarse rides the high 32 bits and stays
    // under k1 <= maxSeeds; fine is a valid subcell index
    distinctCells.foreach { c =>
      assert((c >> 32) >= 0 && (c >> 32) < 3 && (c & 0xffffffffL) >= 0L,
        s"bad composite cell $c")
    }
    // pure function of the data: a second run assigns identically
    val b = SimilarityOps.twoLevelAssign(rows, "vec_id", "embedding", maxSeeds = 3)
    assert(a.select($"id", $"cell").except(b.select($"id", $"cell")).isEmpty)
    // identical vectors always co-locate (coarse argmax and the
    // fine broadcast argmax are value functions of the vector) —
    // the completeness property dedup blocking relies on
    val clones = rows.unionByName(
      rows.where($"vec_id" < 3).select(($"vec_id" + 1000L).as("vec_id"),
        $"embedding"))
    val byVec = SimilarityOps.twoLevelAssign(clones, "vec_id", "embedding",
        maxSeeds = 3)
      .select($"id", $"cell").as[(Long, Long)].collect().toMap
    (0L until 3L).foreach { i =>
      assert(byVec(i) == byVec(i + 1000L),
        s"clone of $i landed in a different cell")
    }
  }

  test("twoLevelAssign: dimension-mismatched rows get the -1 sentinel cell, never an alias") {
    // 60 clean d=4 rows plus one d=3 and one d=5 row: both mismatch
    // every coarse literal (argmax -1 → coarse cell -1). Degenerate
    // rows form NO phantom cell (subcents excludes _coarse = -1) and
    // take the dedicated -1 sentinel via the left join — never an
    // aliased negative composite, never a junk co-block.
    val clean = (0L until 60L).map { i =>
      val v = Array.fill(4)(0.01f); v((i % 4).toInt) = 1.0f; (i, v.toSeq)
    }
    val odd = Seq((900L, Seq(1.0f, 0.2f, 0.3f)),
      (901L, Seq(1.0f, 0.2f, 0.3f, 0.4f, 0.5f)))
    val df = (clean ++ odd).toDF("vec_id", "embedding")
    val cells = SimilarityOps.twoLevelAssign(df, "vec_id", "embedding",
        maxSeeds = 4)
      .select($"id", $"cell").as[(Long, Long)].collect().toMap
    assert(cells.size == 62)
    // BOTH mismatched rows must carry the -1L sentinel (no phantom
    // -1-coarse cell exists to co-block them)
    val oddCells = Seq(cells(900L), cells(901L))
    assert(oddCells == Seq(-1L, -1L),
      s"degenerate rows must map to the sentinel, got $oddCells")
    // no cell anywhere carries the old aliasing signature
    // (fine = 0xFFFFFFFF can only arise from the -1 composition here:
    // k2 per cell is far below 2^32)
    assert(cells.values.forall(c => c == -1L || (c & 0xffffffffL) != 0xffffffffL),
      s"aliased composite cell present: ${cells.values.toSeq.sorted}")
    // clean rows are unaffected: valid coarse (>=0) and fine (>=0)
    clean.foreach { case (i, _) =>
      assert(cells(i) >= 0L, s"clean row $i got cell ${cells(i)}")
    }
  }

  test("cellRecall: hand-computed blocked recall@k over an explicit assignment") {
    // q=(1,0): exact top-3 is {0 (1.0), 4 (0.99876), 1 (0.99504)};
    // cell-blocked (cell 10) top-3 is {0, 1, 2} → overlap 2, recall 2/3
    val assigned = Seq(
      (0L, Seq(1.0f, 0.0f), 10L),
      (1L, Seq(1.0f, 0.1f), 10L),
      (2L, Seq(0.9f, 0.3f), 10L),
      (3L, Seq(0.0f, 1.0f), 10L),
      (4L, Seq(1.0f, 0.05f), 20L),
      (5L, Seq(0.0f, 1.0f), 20L)
    ).toDF("id", "vec", "cell")
    val got = SimilarityOps.cellRecall(assigned, "id", "vec", "cell",
        col("id") === 0L, k = 3)
      .as[(Long, Long, Double)].collect()
    assert(got.toSeq == Seq((0L, 2L, 0.666667)), s"got ${got.toSeq}")
  }

  test("cellRecallProbe: hand-computed multi-probe recall@k; degenerates to cellRecall at one probe") {
    // the cellRecall fixture with probe sets: q = id 0 probes cells
    // {10, 20} → candidates {0,1,2,4,5}; exact top-3 {0, 4, 1} is now
    // fully candidate → recall 1.0. With probe = own cell only the
    // result must equal cellRecall's 2/3.
    val assigned = Seq(
      (0L, Seq(1.0f, 0.0f), 10L, Seq(10L, 20L)),
      (1L, Seq(1.0f, 0.1f), 10L, Seq(10L)),
      (2L, Seq(0.9f, 0.3f), 10L, Seq(10L)),
      (3L, Seq(0.0f, 1.0f), 10L, Seq(10L)),
      (4L, Seq(1.0f, 0.05f), 20L, Seq(20L)),
      (5L, Seq(0.0f, 1.0f), 20L, Seq(20L))
    ).toDF("id", "vec", "cell", "probe_cells")
    val got = SimilarityOps.cellRecallProbe(assigned, "id", "vec", "cell",
        "probe_cells", col("id") === 0L, k = 3)
      .as[(Long, Long, Double)].collect()
    assert(got.toSeq == Seq((0L, 3L, 1.0)), s"got ${got.toSeq}")
    val own = SimilarityOps.cellRecallProbe(
        assigned.withColumn("probe_cells", array($"cell")),
        "id", "vec", "cell", "probe_cells", col("id") === 0L, k = 3)
      .as[(Long, Long, Double)].collect()
    assert(own.toSeq == Seq((0L, 2L, 0.666667)), s"got ${own.toSeq}")
  }

  test("twoLevelProbe: nprobe=1 IS twoLevelAssign; recall and pair cost rise together with nprobe") {
    // probe element 0 must be the own cell — nprobe=1 row-identical
    // to the plain assignment on real embeddings
    val plain = SimilarityOps.twoLevelAssign(
        embeddings, "vec_id", "embedding")
      .select($"id", $"cell").as[(Long, Long)].collect().toMap
    val probed = SimilarityOps.twoLevelProbe(
        embeddings, "vec_id", "embedding", nprobe = 1)
      .select($"id", $"cell", $"probe_cells")
      .as[(Long, Long, Seq[Long])].collect()
    assert(probed.length == plain.size)
    probed.foreach { case (id, cell, pcs) =>
      assert(cell == plain(id), s"id=$id cell=$cell plain=${plain(id)}")
      assert(pcs == Seq(cell), s"id=$id probe=$pcs cell=$cell")
    }
    // monotone dials: recall@10 and implied pair cost both
    // non-decreasing in nprobe (the q191-q194 curve's law)
    def curve(np: Int): (Double, BigDecimal) = {
      val a = SimilarityOps.twoLevelProbe(
        embeddings, "vec_id", "embedding", nprobe = np).localCheckpoint()
      val r = SimilarityOps.cellRecallProbe(a, "id", "vec", "cell",
          "probe_cells", col("id") % 10 === 0, k = 10)
        .agg(avg($"recall")).as[Double].collect()(0)
      val c = BigDecimal(SimilarityOps.probePairCost(a, "cell", "probe_cells")
        .collect()(0).getDecimal(1))
      (r, c)
    }
    val (r1, c1) = curve(1)
    val (r2, c2) = curve(2)
    assert(r2 >= r1, s"recall fell: np1=$r1 np2=$r2")
    assert(c2 >= c1, s"pair cost fell: np1=$c1 np2=$c2")
    assert(r1 > 0.0 && c1 > 0)
  }

  test("probePairCostPrefix: every dial equals probePairCost on the sliced probe set (the r16 q194 fusion)") {
    val a = SimilarityOps.twoLevelProbe(
      embeddings, "vec_id", "embedding", nprobe = 4).localCheckpoint()
    val dials = Seq(1, 2, 4)
    val fused = SimilarityOps.probePairCostPrefix(
        a, "cell", "probe_cells", dials)
      .select($"nprobe", $"n_cells", $"pairs".cast("string"))
      .as[(Int, Long, String)].collect().sortBy(_._1)
    val perDial = dials.map { np =>
      val r = SimilarityOps.probePairCost(
          a.withColumn("probe_cells", slice($"probe_cells", 1, np)),
          "cell", "probe_cells")
        .select($"n_cells", $"pairs".cast("string"))
        .as[(Long, String)].collect()(0)
      (np, r._1, r._2)
    }
    assert(fused.toSeq == perDial,
      s"fused=$fused per-dial=$perDial — the one-pass prefix " +
        "aggregation must reproduce the per-dial pipeline term for term")
  }

  test("countAndTopVectors: one pass = the count job + the TakeOrdered seed collect, degenerates counted but never seeds") {
    // sparse ids (k must derive from COUNT) + degenerate rows (null
    // vec / null element) + forced partial-aggregation merges
    val ids = (0L until 100L).map(i => i * 1000000L + 7L)
    def hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val good = ids.map(i => (i, Seq(i.toFloat, 1.0f)))
    // two degenerate rows (null vec / null element) — the null
    // ELEMENT has to survive construction, so build rows explicitly
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = true))))
    val rows = good.map { case (i, v) => Row(i, v) } ++
      Seq(Row(900000001L, null), Row(900000002L, Seq[Any](1.0f, null)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 7), schema)
    val got = df.select(graft.functions.VectorExpressions
        .countAndTopVectors(md5($"vec_id".cast("string")),
          $"vec_id", $"embedding", 16).as("ct"))
      .collect()(0).getStruct(0)
    assert(got.getLong(0) == 102L,
      "n counts the FULL corpus, degenerate rows included")
    val want = ids.sortBy(i => (hex(i.toString), i)).take(16)
      .map(i => Seq(i.toFloat, 1.0f))
    val seeds = got.getSeq[scala.collection.Seq[Float]](1).map(_.toSeq)
    assert(seeds == want,
      "seeds = the 16 smallest-(md5, id) eligible vectors in order, " +
        "exactly the old orderBy(limit) collect")
    // cap larger than the eligible set: every eligible row, in order
    val all = df.select(graft.functions.VectorExpressions
        .countAndTopVectors(md5($"vec_id".cast("string")),
          $"vec_id", $"embedding", 4096).as("ct"))
      .collect()(0).getStruct(0)
    assert(all.getSeq[scala.collection.Seq[Float]](1).size == 100,
      "degenerate rows are never seed candidates")
  }

  test("twoLevelProbeWide: nprobeCoarse=1 IS twoLevelProbe; widening the coarse beam lifts recall") {
    // one coarse candidate ⇒ the merged ranking IS the fine ranking:
    // wide(nc=1, nf) must be row-identical to the fine-only probe
    val fine = SimilarityOps.twoLevelProbe(
        embeddings, "vec_id", "embedding", nprobe = 3)
      .select($"id", $"cell", $"probe_cells")
      .as[(Long, Long, Seq[Long])].collect().sortBy(_._1)
    val wide1 = SimilarityOps.twoLevelProbeWide(
        embeddings, "vec_id", "embedding", nprobeCoarse = 1, nprobe = 3)
      .select($"id", $"cell", $"probe_cells")
      .as[(Long, Long, Seq[Long])].collect().sortBy(_._1)
    assert(wide1.toSeq == fine.toSeq)
    // cell stays the plain two-stage assignment at ANY beam width,
    // and probe_cells[0] = cell — consumers' keep/rank rules unchanged
    val wide2 = SimilarityOps.twoLevelProbeWide(
        embeddings, "vec_id", "embedding", nprobeCoarse = 2, nprobe = 3)
      .select($"id", $"cell", $"probe_cells")
      .as[(Long, Long, Seq[Long])].collect()
    val plain = fine.map(r => r._1 -> r._2).toMap
    wide2.foreach { case (id, cell, pcs) =>
      assert(cell == plain(id), s"id=$id cell moved under a wider beam")
      assert(pcs.head == cell, s"id=$id probe_cells[0] != cell")
      assert(pcs.size <= 3 && pcs.distinct.size == pcs.size)
    }
    // the measured point of the wider beam: recall at the SAME probe
    // count must not fall when cross-coarse candidates join the set
    def recall(df: org.apache.spark.sql.DataFrame): Double =
      SimilarityOps.cellRecallProbe(df, "id", "vec", "cell",
          "probe_cells", col("id") % 10 === 0, k = 10)
        .agg(avg($"recall")).as[Double].collect()(0)
    val rFine = recall(SimilarityOps.twoLevelProbe(
      embeddings, "vec_id", "embedding", nprobe = 4))
    val rWide = recall(SimilarityOps.twoLevelProbeWide(
      embeddings, "vec_id", "embedding", nprobeCoarse = 2, nprobe = 4))
    assert(rWide >= rFine,
      s"coarse widening LOWERED recall: fine-only $rFine vs wide $rWide")
    // degenerate rows (null vec, dimension-mismatched vec) must NOT
    // be dropped: they carry the sentinel (cell=-1, probe_cells=[-1])
    // and the nprobeCoarse=1 ≡ twoLevelProbe equivalence holds with
    // them present (the regression the inner-join bug caused)
    val dim = embeddings.select($"embedding").as[Seq[Float]].head.size
    val degen = Seq(
      (-1L, null.asInstanceOf[Seq[Float]]),
      (-2L, Seq.fill(dim + 3)(0.5f))
    ).toDF("vec_id", "embedding")
    val aug = embeddings.select($"vec_id", $"embedding").unionByName(degen)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select($"id", $"cell", $"probe_cells")
      .as[(Long, Long, Seq[Long])].collect().sortBy(_._1)
    val fineAug = rows(SimilarityOps.twoLevelProbe(
      aug, "vec_id", "embedding", nprobe = 3))
    val wideAug = rows(SimilarityOps.twoLevelProbeWide(
      aug, "vec_id", "embedding", nprobeCoarse = 1, nprobe = 3))
    assert(fineAug.length == embeddings.count() + 2,
      "twoLevelProbe dropped a degenerate row")
    assert(wideAug.toSeq == fineAug.toSeq,
      "wide(nc=1) != probe with degenerate rows present")
    Seq(-1L, -2L).foreach { id =>
      val r = wideAug.find(_._1 == id).get
      assert(r._2 == -1L && r._3 == Seq(-1L),
        s"degenerate id=$id missing the sentinel: $r")
    }
  }

  test("semDedupTwoLevelProbe: nprobe=1 equals semDedupTwoLevel; kept set shrinks monotonically") {
    val single = SimilarityOps.semDedupTwoLevel(
        embeddings, "vec_id", "embedding", threshold = 0.3)
      .select($"id", $"kept").as[(Long, Boolean)].collect().toMap
    val probed1 = SimilarityOps.semDedupTwoLevelProbe(
        embeddings, "vec_id", "embedding", threshold = 0.3, nprobe = 1)
      .select($"id", $"kept").as[(Long, Boolean)].collect().toMap
    assert(probed1 == single)
    // wider probes can only DISCOVER more near-dup pairs: every id
    // dropped at nprobe=1 stays dropped at nprobe=3
    val probed3 = SimilarityOps.semDedupTwoLevelProbe(
        embeddings, "vec_id", "embedding", threshold = 0.3, nprobe = 3)
      .select($"id", $"kept").as[(Long, Boolean)].collect().toMap
    assert(probed3.keySet == probed1.keySet)
    probed1.foreach { case (id, kept) =>
      if (!kept) assert(!probed3(id), s"id=$id resurrected at nprobe=3")
    }
    // and on this corpus the wider rule actually finds MORE dups at a
    // low threshold (the boundary-straddling pairs exist)
    val dropped1 = probed1.count(!_._2)
    val dropped3 = probed3.count(!_._2)
    assert(dropped3 >= dropped1)
    // degenerate rows (null vec) flow through the consumer too: they
    // carry the -1 sentinel cell, pair with nothing (null cosine
    // never reaches the threshold), and are KEPT — an undecodable
    // row must never be silently deduplicated away
    val dim = embeddings.select($"embedding").as[Seq[Float]].head.size
    val degen = Seq((-1L, null.asInstanceOf[Seq[Float]]),
        (-2L, Seq.fill(dim + 2)(0.25f)))
      .toDF("vec_id", "embedding")
    val aug = embeddings.select($"vec_id", $"embedding").unionByName(degen)
    val out = SimilarityOps.semDedupTwoLevelProbe(
        aug, "vec_id", "embedding", threshold = 0.3, nprobe = 2)
      .select($"id", $"cell", $"kept").as[(Long, Long, Boolean)]
      .collect()
    assert(out.length == aug.count(), "consumer dropped rows")
    val nullRow = out.find(_._1 == -1L).get
    assert(nullRow._2 == -1L && nullRow._3,
      s"null-vec row not kept with the sentinel: $nullRow")
    assert(out.find(_._1 == -2L).get._2 == -1L)
  }

  test("knnJoinTwoLevelProbe: nprobe=1 equals knnJoinTwoLevel; probe budget enforced") {
    val single = SimilarityOps.knnJoinTwoLevel(
        embeddings, "vec_id", "embedding", k = 3)
      .select($"id", $"neighbor_id", $"rank")
      .as[(Long, Long, Int)].collect().toSet
    val probed = SimilarityOps.knnJoinTwoLevelProbe(
        embeddings, "vec_id", "embedding", k = 3, nprobe = 1)
      .select($"id", $"neighbor_id", $"rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(probed == single)
    // wider probes can only add candidates: every id keeps at least
    // its single-probe neighbor count
    val wide = SimilarityOps.knnJoinTwoLevelProbe(
        embeddings, "vec_id", "embedding", k = 3, nprobe = 3)
      .groupBy($"id").count().as[(Long, Long)].collect().toMap
    val narrow = single.groupBy(_._1).view.mapValues(_.size).toMap
    narrow.foreach { case (id, n) =>
      assert(wide.getOrElse(id, 0L) >= n, s"id=$id lost neighbors")
    }
    // the probe pair budget refuses before the join, naming the op
    val e = intercept[IllegalArgumentException] {
      SimilarityOps.knnJoinTwoLevelProbe(
        embeddings, "vec_id", "embedding", k = 3, nprobe = 3, maxPairs = 10L)
    }
    assert(e.getMessage.contains("knnJoinTwoLevelProbe"))
  }

  test("two-level oversample dial: recall side — os1 recalls at least as much as os2 on real embeddings") {
    // the dial's documented trade (TwoLevelProbe measured its COST
    // side in pair counts): oversample=1 → fewer, larger subcells →
    // more same-cell true neighbors. Mean recall@10 over every 10th
    // vector of the sf0.001 embeddings must not INVERT the trade.
    def meanRecall(os: Int): Double = {
      val assigned = SimilarityOps.twoLevelAssign(
        embeddings, "vec_id", "embedding", oversample = os)
      SimilarityOps.cellRecall(assigned, "id", "vec", "cell",
          col("id") % 10 === 0, k = 10)
        .agg(avg($"recall")).as[Double].collect()(0)
    }
    val r1 = meanRecall(1)
    val r2 = meanRecall(2)
    assert(r1 >= r2, s"oversample=1 recall $r1 < oversample=2 recall $r2")
    // and the blocking is doing SOMETHING: strictly above zero
    assert(r2 > 0.0)
  }

  test("semDedupTwoLevel: keep-smallest-id past the seed cap, budget still enforced") {
    // 6 distinct directions with per-id jitter (pairwise 6-dp cosine
    // < 1.0), plus exact clones of ids 0-4 at 100+ (cosine 1.0)
    val base = (0L until 60L).map { i =>
      val g = (i % 6).toInt
      val v = Array.fill(8)(0.01f * ((i % 5) + 1))
      v(g) = 1.0f
      (i, v.toSeq)
    }
    val clones = (0L until 5L).map(i => (100L + i, base(i.toInt)._2))
    val df = (base ++ clones).toDF("vec_id", "embedding")
    val got = SimilarityOps.semDedupTwoLevel(df, "vec_id", "embedding",
        threshold = 0.999999, maxSeeds = 2)
      .select($"id", $"kept").as[(Long, Boolean)].collect().toMap
    assert(got.size == 65)
    (0L until 5L).foreach { i =>
      assert(got(i), s"original $i must be kept")
      assert(!got(100L + i), s"clone of $i must drop")
    }
    // the pair budget guards the two-level blocking too, and the
    // refusal names the op
    val e = intercept[IllegalArgumentException] {
      SimilarityOps.semDedupTwoLevel(df, "vec_id", "embedding",
        threshold = 0.5, maxSeeds = 2, maxPairs = 3L).collect()
    }
    assert(e.getMessage.contains("semDedupTwoLevel") &&
      e.getMessage.contains("maxPairs"))
  }

  test("seed collects accept array<double> embeddings (the expression family takes both)") {
    // a float-only getSeq on the driver collect would ClassCastException
    // here, even though every downstream expression accepts double vecs
    val df = (0L until 40L).map { i =>
      (i, Seq.tabulate(4)(d => if (d == (i % 4).toInt) 1.0 else 0.001 * (i + 1)))
    }.toDF("vec_id", "embedding")
    assert(SimilarityOps.sqrtSeedCentroids(df, "vec_id", "embedding").nonEmpty)
    assert(SimilarityOps.twoLevelAssign(df, "vec_id", "embedding").count() == 40)
    assert(SimilarityOps.kmeansCentroids(df, "vec_id", "embedding",
      k = 2, iterations = 1).size == 2)
  }

  test("knnJoinTwoLevel / contrastivePairsTwoLevel: the whole self-join family works past the cap") {
    // clones co-locate under two-level blocking, so a clone pair must
    // rank as each other's #1 neighbor and as a label-1 positive
    val base = (0L until 80L).map { i =>
      val g = (i % 4).toInt
      val v = Array.fill(6)(0.0f)
      v(g) = 1.0f
      v(5) = 0.001f * (i + 1) // id-unique jitter: no accidental clones
      (i, v.toSeq)
    }
    val df = (base :+ ((500L, base(0)._2))).toDF("vec_id", "embedding")
    val knn = SimilarityOps.knnJoinTwoLevel(df, "vec_id", "embedding",
        k = 1, maxSeeds = 2)
      .select($"id", $"neighbor_id", $"cosine").as[(Long, Long, Double)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(knn(0L) == ((500L, 1.0)), s"clone must be 0's top neighbor: $knn")
    assert(knn(500L) == ((0L, 1.0)))
    val mined = SimilarityOps.contrastivePairsTwoLevel(df, "vec_id",
        "embedding", kPos = 1, kNeg = 1, posMin = 0.999999, negMax = 0.9,
        maxSeeds = 2)
      .select($"id", $"other_id", $"label").as[(Long, Long, Int)].collect()
    assert(mined.contains((0L, 500L, 1)) && mined.contains((500L, 0L, 1)),
      s"clone pair must mine as positives: ${mined.toSeq}")
    // budget refusals name the two-level ops
    val e1 = intercept[IllegalArgumentException] {
      SimilarityOps.knnJoinTwoLevel(df, "vec_id", "embedding", k = 1,
        maxSeeds = 2, maxPairs = 3L).collect()
    }
    assert(e1.getMessage.contains("knnJoinTwoLevel"))
    val e2 = intercept[IllegalArgumentException] {
      SimilarityOps.contrastivePairsTwoLevel(df, "vec_id", "embedding",
        kPos = 1, kNeg = 1, posMin = 0.9, negMax = 0.1,
        maxSeeds = 2, maxPairs = 3L).collect()
    }
    assert(e2.getMessage.contains("contrastivePairsTwoLevel"))
  }

  test("duplicateClusters frees superseded round checkpoints deterministically") {
    // Dataset.unpersist is a no-op for localCheckpoint blocks (they
    // belong to the checkpoint RDD, not the SQL cache) — without the
    // explicit RDD free, every round's state lingers until the async
    // ContextCleaner, whose cleanup storms land in whatever runs next.
    val before = spark.sparkContext.getPersistentRDDs.size
    val pairs = Seq( // 6-link chain: needs several propagation rounds
      (20L, 21L), (21L, 22L), (22L, 23L), (23L, 24L), (24L, 25L), (25L, 26L)
    ).toDF("id_a", "id_b")
    val labels = DedupOps.duplicateClusters(pairs)
    assert(labels.count() == 7)
    // at most the FINAL round's checkpoint may remain persisted (the
    // result reads it); every superseded round and the edge cache are
    // freed inline, not left to GC
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after - before <= 1,
      s"superseded checkpoints leaked: $before -> $after persistent RDDs")
  }

  test("duplicateClustersIncremental: equals full recompute on a grown pair set") {
    // yesterday's corpus: triangle {1,2,3} + pair {10,11}
    val oldPairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L))
      .toDF("id_a", "id_b")
    val prev = DedupOps.duplicateClusters(oldPairs)
    // today's delta: a pair merging both old components (11-3), a new
    // member joining an old cluster (12-10), and a brand-new component
    val delta = Seq((11L, 3L), (12L, 10L), (20L, 21L)).toDF("id_a", "id_b")
    val full = DedupOps.duplicateClusters(oldPairs.unionByName(delta))
      .as[(Long, Long)].collect().toMap
    val incr = DedupOps.duplicateClustersIncremental(prev, delta)
      .as[(Long, Long)].collect().toMap
    assert(incr == full)
    assert(incr(12L) == 1L && incr(20L) == 20L) // merged component min
  }

  test("rollingStats: row frame and time-range frame agree with hand rolls") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val e = Seq(
      (1L, "u", ts("2024-01-01 10:00:00"), 1.0),
      (2L, "u", ts("2024-01-01 10:30:00"), 2.0),
      (3L, "u", ts("2024-01-01 11:15:00"), 4.0), // 10:15 cutoff: drops row 1
      (4L, "u", ts("2024-01-01 13:00:00"), 8.0) // nothing within the hour
    ).toDF("event_id", "user_id", "ts", "value")
    val out = ChangelogOps.rollingStats(e, $"user_id", $"ts", $"value",
        rows = 2, rangeSeconds = 3600L)
      .select($"event_id", $"rolling_avg", $"rolling_sum_range", $"rolling_n_range")
      .as[(Long, Double, Double, Long)].collect().sortBy(_._1).toList
    assert(out == List(
      (1L, 1.0, 1.0, 1L),
      (2L, 1.5, 3.0, 2L), // row frame: rows 1-2; range: both within 1h
      (3L, 3.0, 6.0, 2L), // row frame: rows 2-3; range: rows 2-3
      (4L, 6.0, 8.0, 1L))) // row frame: rows 3-4; range: alone
  }

  test("duplicateSpans: overlapping windows merge into maximal position-exact islands") {
    // doc 1 and doc 2 share the 6-token run "p q r s t u": with n=3
    // that is windows at doc-1 positions 2,3,4,5 — overlapping, so
    // ONE island [2, 8). doc 3 repeats its own 3-gram "x y z" at
    // positions 0 and 4 — two islands [0,3) and [4,7) (position 3 is
    // the unshared 'k', windows abut nowhere). doc 4 has no dups.
    val df = Seq(
      (1L, "a b p q r s t u"),
      (2L, "p q r s t u c d"),
      (3L, "x y z k x y z"),
      (4L, "nothing here repeats at all")
    ).toDF("doc_id", "text")
    val got = TextOps.duplicateSpans(df, "doc_id", "text", spanWords = 3)
      .as[(Long, Int, Int, Int)].collect().toSet
    assert(got == Set(
      (1L, 2, 8, 6), (2L, 0, 6, 6),
      (3L, 0, 3, 3), (3L, 4, 7, 3)))
  }

  test("duplicateSpans: abutting windows fuse; short docs and empties survive") {
    // "m n o" at 0 and "o m n" at 3 are different grams, but doc 5
    // repeats BOTH, so doc 5's windows [0,3) and [3,6) abut -> one
    // island [0,6)
    val df = Seq(
      (5L, "m n o o m n"), (6L, "m n o"), (7L, "o m n"),
      (8L, ""), (9L, "xy"))
      .toDF("doc_id", "text")
    val got = TextOps.duplicateSpans(df, "doc_id", "text", spanWords = 3)
      .as[(Long, Int, Int, Int)].collect().toSet
    assert(got == Set((5L, 0, 6, 6), (6L, 0, 3, 3), (7L, 0, 3, 3)))
    // partitioning invariance
    val got13 = TextOps.duplicateSpans(df.repartition(13), "doc_id", "text", 3)
      .as[(Long, Int, Int, Int)].collect().toSet
    assert(got13 == got)
  }

  test("bloom-gated decontamination is row-identical to the broadcast-exact path") {
    val corpus = docs.where($"doc_id" % 20 =!= 0)
    val eval = docs.where($"doc_id" % 20 === 0)
    val exact = DedupOps.decontaminate(corpus, eval, "doc_id", "text", 5)
      .select($"doc_id").as[Long].collect().toSet
    val bloomed = DedupOps
      .decontaminateBloomed(corpus, eval, "doc_id", "text", 5)
    assert(bloomed.select($"doc_id").as[Long].collect().toSet == exact)
    // the bitset probe must gate the corpus shingles at the scan —
    // the native bloom_might_contain expression, inside the plan,
    // below the exact-confirm join
    val plan = bloomed.queryExecution.executedPlan.toString
    assert(plan.contains("bloom_might_contain"), s"bloom probe missing:\n$plan")
    // a tiny filter (64 bits, many hashes) must stay CONSERVATIVE:
    // saturated blooms pass everything through to the exact join and
    // the result is still identical
    val saturated = DedupOps.decontaminateBloomed(
      corpus, eval, "doc_id", "text", 5, numBits = 64, numHashes = 7)
    assert(saturated.select($"doc_id").as[Long].collect().toSet == exact)
  }

  test("cutDuplicateSpans keeps first occurrences and reassembles the text") {
    // intra-doc: "x y z" x3 collapses to one copy (windows 3..6 are
    // all repeats of earlier content -> island [3,9))
    // cross-doc: doc 20's "p q r s" prefix repeats doc 10's tokens,
    // so doc 20 keeps only its novel tail
    val df = Seq(
      (1L, "x y z x y z x y z"),
      (10L, "p q r s"),
      (20L, "p q r s t"),
      (30L, "all novel words here"),
      (40L, ""))
      .toDF("doc_id", "text")
    val got = TextOps.cutDuplicateSpans(df, "doc_id", "text", spanWords = 3)
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == (("x y z", 9L, 6L)))
    assert(got(10L) == (("p q r s", 4L, 0L)))
    assert(got(20L) == (("t", 5L, 4L)))
    assert(got(30L) == (("all novel words here", 4L, 0L)))
    assert(got(40L) == (("", 0L, 0L)))
    // partitioning invariance: keep-first rank is a total order
    val got13 = TextOps
      .cutDuplicateSpans(df.repartition(13), "doc_id", "text", 3)
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got13 == got)
  }

  test("perplexityBuckets: reference-like docs tier above gibberish, OOV scores floor") {
    // reference slice (is_ref): plain English; scored corpus includes a
    // reference-like doc, a half-OOV doc, and pure gibberish
    val df = Seq(
      (1L, "the cat sat on the mat", "en", true),
      (2L, "the dog sat on the rug", "en", true),
      (3L, "the cat sat on the rug", "en", false), // all in-vocab
      (4L, "the cat zzz qqq vvv mat", "en", false), // half OOV
      (5L, "zzz qqq vvv www yyy xxx", "en", false) // all OOV
    ).toDF("doc_id", "text", "lang", "is_ref")
    val out = TextOps.perplexityBuckets(df, "doc_id", "text", "lang",
        isReference = col("is_ref"), buckets = 3)
      .select("doc_id", "avg_logprob", "bucket")
      .as[(Long, Double, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(3L)._1 > out(4L)._1 && out(4L)._1 > out(5L)._1,
      s"in-vocab > mixed > OOV ordering, got $out")
    // all-OOV: every token scores ln(1/(N+V+1)); N=12 tokens, V=7 vocab
    // (the cat sat on mat dog rug)
    assert(math.abs(out(5L)._1 - math.log(1.0 / 20)) < 1e-6)
    // model docs score themselves; 5 docs over 3 buckets per lang
    assert(out.values.map(_._2).toSet.subsetOf(Set(1, 2, 3)))
  }

  test("perplexityBuckets: per-language models are independent") {
    val df = Seq(
      (1L, "alpha beta gamma", "aa", true),
      (2L, "alpha beta gamma", "bb", true),
      (3L, "alpha beta gamma", "aa", false),
      (4L, "alpha beta gamma", "bb", false)
    ).toDF("doc_id", "text", "lang", "is_ref")
    val out = TextOps.perplexityBuckets(df, "doc_id", "text", "lang",
        col("is_ref"))
      .select("doc_id", "avg_logprob").as[(Long, Double)].collect().toMap
    // same text, same-size per-lang models -> identical scores per lang
    assert(out(3L) == out(4L))
    // N=3, V=3 per model: each token P=(1+1)/(3+3+1)=2/7
    assert(math.abs(out(3L) - math.log(2.0 / 7)) < 1e-6)
  }

  test("zipfSlope: an exact power-law head fits slope -1") {
    // freq(rank r) = 1024/r for r=1..8, realized by repeating tokens
    val rows = (1 to 8).flatMap { r =>
      Seq.fill(1024 / r)(s"w$r")
    }.grouped(64).zipWithIndex.map { case (ts, i) => (i.toLong, ts.mkString(" ")) }
    val out = TextOps.zipfSlope(rows.toSeq.toDF("doc_id", "text"), "text", 1000)
      .select("n_terms", "total_tokens", "n_vocab", "zipf_slope")
      .as[(Long, Long, Long, Double)].collect().head
    assert(out._1 == 8 && out._3 == 8)
    assert(out._2 == (1 to 8).map(1024 / _).sum)
    // 1024/r is integer-exact for r in 1..8 except 1024/6=170.67 -> 170,
    // 1024/7=146.3 -> 146: floor wobble keeps it near -1, not exactly
    assert(math.abs(out._4 - (-1.0)) < 0.01, s"slope ${out._4}")
  }

  test("zipfSlope: empty corpus yields one well-defined row") {
    val out = TextOps.zipfSlope(docs.where(lit(false)), "text", 100).collect()
    assert(out.length == 1)
    assert(out.head.isNullAt(out.head.fieldIndex("zipf_slope")))
  }

  test("thresholdSweep: hand-computed confusions per operating point, boundary inclusive") {
    val df = Seq((0.95, 1), (0.85, 0), (0.5, 1), (0.1, 0)).toDF("prob", "y")
    val got = ClassifierOps.thresholdSweep(df, "prob", "y", Seq(0.5, 0.9))
      .orderBy($"threshold")
      .select($"threshold", $"tp", $"fp", $"fn", $"tn", $"f1")
      .as[(Double, Long, Long, Long, Long, Double)].collect().toSeq
    // p=0.5 at t=0.5 is INCLUSIVE (p >= t)
    assert(got == Seq(
      (0.5, 2L, 1L, 0L, 1L, 0.8),
      (0.9, 1L, 0L, 1L, 2L, 0.666667)), got.toString)
  }

  test("diverseTopK: cell quota caps a dominant cluster; order stays global") {
    val centroids = Seq(Seq(1.0f, 0.0f, 0.0f), Seq(0.0f, 1.0f, 0.0f))
    val q = Seq(1.0f, 0.0f, 0.0f)
    // cell 0 holds the four most-relevant vectors; quota 2 forces two
    // cell-1 vectors into the top-4
    val vecs = Seq(
      (1L, Seq(1.0f, 0.00f, 0.0f)),
      (2L, Seq(1.0f, 0.05f, 0.0f)),
      (3L, Seq(1.0f, 0.10f, 0.0f)),
      (4L, Seq(1.0f, 0.15f, 0.0f)),
      (5L, Seq(0.4f, 1.00f, 0.0f)),
      (6L, Seq(0.3f, 1.00f, 0.0f))
    ).toDF("vec_id", "embedding")
    val got = SimilarityOps.diverseTopK(vecs, "vec_id", "embedding",
        q, centroids, k = 4, perCell = 2)
      .select($"id").as[Long].collect().toSeq
    assert(got == Seq(1L, 2L, 5L, 6L), got.toString)
  }

  test("mmrSelect: lambda=1 is pure relevance; lower lambda trades for diversity") {
    val q = Seq(1.0f, 0.0f, 0.0f)
    val vecs = Seq(
      (1L, Seq(1.0f, 0.2f, 0.0f)),   // most relevant
      (2L, Seq(1.0f, 0.25f, 0.0f)),  // near-duplicate of 1
      (3L, Seq(0.8f, 0.0f, 0.6f))    // less relevant, diverse
    ).toDF("vec_id", "embedding")
    assert(SimilarityOps.mmrSelect(vecs, "vec_id", "embedding", q,
      k = 2, lambda = 1.0) == Seq(1L, 2L))
    // λ=0.5: pick 1 first; then 2's redundancy (sim≈0.98 to 1)
    // outweighs its relevance edge over 3
    assert(SimilarityOps.mmrSelect(vecs, "vec_id", "embedding", q,
      k = 2, lambda = 0.5) == Seq(1L, 3L))
    // k larger than the pool returns everyone once
    assert(SimilarityOps.mmrSelect(vecs, "vec_id", "embedding", q,
      k = 5, lambda = 0.5).toSet == Set(1L, 2L, 3L))
  }

  test("mmrSelect: an oversized pool fails loudly before the first round") {
    val q = Seq(1.0f, 0.0f, 0.0f)
    val vecs = spark.range(10)
      .select($"id".as("vec_id"),
        typedLit(Seq(1.0f, 0.0f, 0.0f)).as("embedding"))
    val e = intercept[IllegalArgumentException] {
      SimilarityOps.mmrSelect(vecs, "vec_id", "embedding", q,
        k = 2, lambda = 0.5, maxPool = 5L)
    }
    assert(e.getMessage.contains("maxPool"), e.getMessage)
    assert(e.getMessage.contains("cosineTopK"), e.getMessage)
  }

  test("kmvSetAlgebra: exact in the small-set regime, close on real overlap") {
    import graft.ops.SketchOps
    // small-set regime: fewer distinct values than k → exact counts
    val a = (1L to 30L).toDF("v")
    val b = (21L to 50L).toDF("v")
    val small = SketchOps.kmvSetAlgebra(a, b, "v", k = 256)
      .select($"union_est", $"intersect_est", $"jaccard_est")
      .as[(Double, Double, Double)].head()
    assert(small._1 == 50.0 && small._2 == 10.0)
    assert(math.abs(small._3 - 0.2) < 1e-9)
    // estimation regime: 2000 ∪ 2000 with 1000 shared → union 3000,
    // intersect 1000, jaccard 1/3; k=256 keeps relative error modest
    val bigA = (1L to 2000L).toDF("v")
    val bigB = (1001L to 3000L).toDF("v")
    val est = SketchOps.kmvSetAlgebra(bigA, bigB, "v", k = 256)
      .select($"union_est", $"intersect_est", $"jaccard_est")
      .as[(Double, Double, Double)].head()
    assert(math.abs(est._1 - 3000) / 3000 < 0.25, est.toString)
    assert(math.abs(est._3 - 1.0 / 3) < 0.12, est.toString)
  }

  test("calibrationReport: hand-computed bins and ECE") {
    // bin 2 (p=0.25 ×4, 1 positive → gap |0.25-0.25|=0) and
    // bin 9 (p=0.95 ×2, 1 positive → gap |0.95-0.5|=0.45)
    val df = Seq(
      (0.25, 1), (0.25, 0), (0.25, 0), (0.25, 0),
      (0.95, 1), (0.95, 0)
    ).toDF("prob", "y")
    val got = ClassifierOps.calibrationReport(df, "prob", "y", bins = 10)
      .select($"bin", $"n", $"mean_pred", $"obs_rate", $"abs_gap", $"ece")
      .as[(Int, Long, Double, Double, Double, Double)]
      .collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (2, 4L, 0.25, 0.25, 0.0, 0.15),
      (9, 2L, 0.95, 0.5, 0.45, 0.15)), got.toString)
    // ece = (4*0 + 2*0.45)/6 = 0.15
  }

  test("jlProject: deterministic, engine-free reproducible, distances roughly preserved") {
    val vecs = Seq(
      (1L, Seq.tabulate(64)(i => (i % 7).toFloat)),
      (2L, Seq.tabulate(64)(i => (i % 7).toFloat)), // identical to 1
      (3L, Seq.tabulate(64)(i => ((i * 3) % 11).toFloat))
    ).toDF("vec_id", "embedding")
    val proj = SimilarityOps.jlProject(vecs, "vec_id", "embedding", 16)
      .select($"id", $"j", $"value").as[(Long, Int, Double)]
      .collect().groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(proj(1L) == proj(2L), "identical vectors project identically")
    assert(proj(1L).size == 16)
    // hand-check component 0 against the driver-side dot
    val signs = SimilarityOps.jlSigns(0, 64)
    val v = Seq.tabulate(64)(i => (i % 7).toDouble)
    val want = BigDecimal(v.zip(signs).map { case (a, b) => a * b }.sum / 4.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(proj(1L).head - want) < 1e-9)
    // JL bound sanity: the projected distance of the distinct pair is
    // within a loose factor of the original
    def dist(a: Seq[Double], b: Seq[Double]) =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    val orig = dist(v, Seq.tabulate(64)(i => ((i * 3) % 11).toDouble))
    val pd = dist(proj(1L), proj(3L))
    assert(pd > orig * 0.5 && pd < orig * 2.0, s"orig $orig proj $pd")
  }

  test("bpeishTokenCount: every branch of the pattern, hand-tokenized") {
    val got = Seq((1L, "it's 2024, #tag-42!"), (2L, "plain words here"),
        (3L, ""))
      .toDF("id", "s")
      .select($"id", TextOps.bpeishTokenCount($"s").as("n"))
      .as[(Long, Long)].collect().toMap
    // it|'s| 2024|,| #|tag|-|42|! → 9
    assert(got(1L) == 9L, got.toString)
    assert(got(2L) == 3L) // plain| words| here
    assert(got(3L) == 0L)
  }

  test("resampleFfill: grid carries the last observation; ties collapse; short spans drop") {
    def at(s: String) = java.sql.Timestamp.valueOf(s)
    val df = Seq(
      (1L, at("2024-01-01 10:05:00"), 1.0),
      (1L, at("2024-01-01 10:20:00"), 2.0),
      (1L, at("2024-01-01 10:20:00"), 5.0), // simultaneous → max wins
      (1L, at("2024-01-01 12:10:00"), 3.0),
      (2L, at("2024-01-01 10:40:00"), 9.0), // span inside one step
      (2L, at("2024-01-01 10:50:00"), 8.0)
    ).toDF("user_id", "ts", "value")
    val got = ChangelogOps.resampleFfill(df, "user_id", "ts", "value", 3600L)
      .select($"user_id", $"grid_us", $"value")
      .as[(Long, Long, Double)].collect().toSet
    def us(s: String) = at(s).getTime * 1000L
    assert(got == Set(
      (1L, us("2024-01-01 11:00:00"), 5.0), // LOCF from the 10:20 tie-max
      (1L, us("2024-01-01 12:00:00"), 5.0)),
      s"got $got")
  }

  test("domainGate: label-boundary suffix match, first blocked domain wins, clean rows null") {
    val df = Seq(
      (1L, "https://ads.example.com/banner"),   // under example.com
      (2L, "http://example.com/"),              // exact
      (3L, "https://notexample.com/x"),         // NOT a label match
      (4L, "https://www.other.org/y"),          // clean
      (5L, "http://user:pw@sub.tracker.net:8080/z") // under tracker.net
    ).toDF("doc_id", "url")
    val got = TextOps.domainGate(df, "url", Seq("tracker.net", "example.com"))
      .select($"doc_id", $"blocked_by").as[(Long, Option[String])]
      .collect().toMap
    assert(got(1L).contains("example.com"))
    assert(got(2L).contains("example.com"))
    assert(got(3L).isEmpty, "substring must not match across label boundaries")
    assert(got(4L).isEmpty)
    assert(got(5L).contains("tracker.net"), "userinfo/port must not hide the host")
  }

  test("urlDedup: one row per canonical URL, latest fetch wins, ids break ties") {
    val df = Seq(
      (1L, "https://www.a.example/p/1?utm=x", 10L), // same canonical as 2/3
      (2L, "http://a.example/p/1", 30L),            // latest → winner
      (3L, "https://a.example/p/1#frag", 30L),      // ts tie with 2 → larger id loses
      (4L, "https://b.example/p/2", 5L)             // singleton
    ).toDF("doc_id", "url", "ts")
    val got = TextOps.urlDedup(df, "doc_id", "url", "ts")
      .select($"canonical_url", $"doc_id", $"n_fetches")
      .as[(String, Long, Long)].collect().toSet
    assert(got == Set(
      ("a.example//p/1", 2L, 3L),
      ("b.example//p/2", 4L, 1L)), got.toString)
  }

  test("knBigramLogProb: hand-computed Kneser-Ney probabilities, partition-invariant") {
    val df = Seq((1L, "a b a b"), (2L, "a c")).toDF("doc_id", "text")
    // types: (a,b) c=2, (b,a) c=1, (a,c) c=1; c(a.)=3 N1+(a.)=2;
    // c(b.)=1 N1+(b.)=1; N1+(.b)=N1+(.a)=N1+(.c)=1; T=3
    def p(c: Long, cf: Long, n1f: Long, n1c: Long, t: Long): Double =
      math.max(c - 0.75, 0.0) / cf + 0.75 * n1f / cf * (n1c.toDouble / t)
    val pBA = p(2, 3, 2, 1, 3) // P(b|a)
    val pAB = p(1, 1, 1, 1, 3) // P(a|b)
    val pCA = p(1, 3, 2, 1, 3) // P(c|a)
    val want1 = BigDecimal((2 * math.log(pBA) + math.log(pAB)) / 3)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want2 = BigDecimal(math.log(pCA))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def run(d: org.apache.spark.sql.DataFrame) =
      TextOps.knBigramLogProb(d, "doc_id", "text")
        .select($"doc_id", $"n_bigrams", $"avg_logprob")
        .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    val got = run(df)
    assert(got == Seq((1L, 3L, want1), (2L, 1L, want2)), got.toString)
    assert(run(df.repartition(5)) == got, "decimal fold is partition-invariant")
    // interpolation moves mass to continuations: smoothed P(b|a) sits
    // strictly below the MLE 2/3 and above the discounted floor
    assert(pBA < 2.0 / 3 && pBA > 1.25 / 3)
  }

  test("LSH dedup store: ingest flags history near-dups, appends only novel docs") {
    val store = java.nio.file.Files.createTempDirectory("graft-lsh").toString
    val a = "the quick brown fox jumps over the lazy dog again and again today"
    val b = "completely different content about database engines and their query plans"
    DedupOps.writeLshStore(
      Seq((1L, a), (2L, b)).toDF("doc_id", "text"), "doc_id", "text", store)

    // c extends a by one word (shingle Jaccard ~0.92); d is novel
    val c = a + " tomorrow"
    val d = "a third topic entirely with its own words such as mountains rivers"
    val flagged = DedupOps.ingestDedup(spark, store,
        Seq((10L, c), (11L, d)).toDF("doc_id", "text"), "doc_id", "text")
      .select($"doc_id", $"is_dup",
        coalesce($"dup_of", lit(-1L)).as("dup_of"))
      .as[(Long, Boolean, Long)].collect()
      .map { case (id, isDup, dupOf) => id -> ((isDup, dupOf)) }.toMap
    assert(flagged(10L) == ((true, 1L)), "history near-dup flagged with its match")
    assert(flagged(11L) == ((false, -1L)), "novel doc passes")

    // the novel doc became history: its near-dup now probes as a hit
    val hits2 = DedupOps.probeLshStore(spark, store,
        Seq((20L, d + " forever")).toDF("doc_id", "text"), "doc_id", "text")
      .select($"new_id", $"store_id").as[(Long, Long)].collect().toSet
    assert(hits2 == Set((20L, 11L)))

    // the DUPLICATE was not appended: re-probing c's text matches the
    // original (1) but never the rejected copy (10)
    val hits3 = DedupOps.probeLshStore(spark, store,
        Seq((30L, c)).toDF("doc_id", "text"), "doc_id", "text")
      .select($"store_id").as[Long].collect().toSet
    assert(hits3.contains(1L) && !hits3.contains(10L))
  }

  test("compactLshStore folds the append log; probes answer identically") {
    val store = java.nio.file.Files.createTempDirectory("graft-lshc").toString
    val a = "the quick brown fox jumps over the lazy dog again and again today"
    val b = "completely different content about database engines and their query plans"
    DedupOps.writeLshStore(
      Seq((1L, a)).toDF("doc_id", "text"), "doc_id", "text", store)
    DedupOps.appendLshStore(
      Seq((2L, b)).toDF("doc_id", "text"), "doc_id", "text", store)
    DedupOps.appendLshStore(
      Seq((3L, b + " third")).toDF("doc_id", "text"), "doc_id", "text", store)
    def probe() = DedupOps.probeLshStore(spark, store,
        Seq((10L, a + " tomorrow")).toDF("doc_id", "text"), "doc_id", "text")
      .select($"store_id").as[Long].collect().toSet
    def parquetFiles() = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(store)).count(_.getName.endsWith(".parquet"))
    }
    val before = probe()
    val filesBefore = parquetFiles()
    DedupOps.compactLshStore(spark, store)
    assert(probe() == before, "compaction must not change probe answers")
    assert(before == Set(1L))
    assert(parquetFiles() < filesBefore,
      s"expected fewer files after compaction ($filesBefore)")
    assert(spark.read.parquet(store).select($"id").distinct().count() == 3)
  }

  test("LSH store compaction recovers every crash window of the two-rename swap") {
    val store = java.nio.file.Files.createTempDirectory("lsh_crash").toString + "/store"
    val a = "the quick brown fox jumps over the lazy dog again and again today"
    val b = "completely different content about database engines and their query plans"
    DedupOps.writeLshStore(
      Seq((1L, a)).toDF("doc_id", "text"), "doc_id", "text", store)
    DedupOps.appendLshStore(
      Seq((2L, b)).toDF("doc_id", "text"), "doc_id", "text", store)
    def probe() = DedupOps.probeLshStore(spark, store,
        Seq((10L, a + " tomorrow"), (11L, b + " again")).toDF("doc_id", "text"),
        "doc_id", "text")
      .select($"new_id", $"store_id").as[(Long, Long)].collect().toSet
    val expect = probe()
    assert(expect == Set((10L, 1L), (11L, 2L)))

    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(store), spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    // crash window 1: first rename done, second never ran — no store
    // at `path`, full copy at `_prev`. Compaction must restore + fold.
    assert(fs.rename(p(store), p(store + "_prev")))
    DedupOps.compactLshStore(spark, store)
    assert(probe() == expect)
    assert(!fs.exists(p(store + "_prev")) && !fs.exists(p(store + "_compacting")))

    // crash window 2: swap completed but `_prev` cleanup didn't run —
    // stale copy next to a live store. Compaction must drop it, not
    // resurrect it.
    DedupOps.appendLshStore(
      Seq((3L, b + " third")).toDF("doc_id", "text"), "doc_id", "text", store)
    val expect2 = probe()
    fs.mkdirs(p(store + "_prev")) // stale junk standing in for an old copy
    DedupOps.compactLshStore(spark, store)
    assert(probe() == expect2)
    assert(!fs.exists(p(store + "_prev")))
    assert(spark.read.parquet(store).select($"id").distinct().count() == 3)
  }

  test("LSH dedup store ingests from a stream: per-batch dedup against all prior batches") {
    // continuous dedup-at-ingest: each micro-batch probes the store as
    // of the batches before it, then appends its survivors
    val src = java.nio.file.Files.createTempDirectory("graft-lshs-src").toString
    val store = java.nio.file.Files.createTempDirectory("graft-lshs-store").toString
    val ck = java.nio.file.Files.createTempDirectory("graft-lshs-ck").toString
    val a = "the quick brown fox jumps over the lazy dog again and again today"
    val b = "completely different content about database engines and their query plans"
    val schema = Seq((0L, "")).toDF("doc_id", "text").schema
    DedupOps.writeLshStore(
      Seq((1L, a)).toDF("doc_id", "text"), "doc_id", "text", store)

    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Boolean)]
    Seq((10L, a + " tomorrow"), (11L, b)).toDF("doc_id", "text")
      .write.parquet(s"$src/b0")
    val q = spark.readStream.schema(schema).parquet(s"$src/*")
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val flagged = DedupOps.ingestDedup(spark, store, df, "doc_id", "text")
          .select(col("doc_id"), col("is_dup"))
          .collect().map(r => (r.getLong(0), r.getBoolean(1)))
        seen.synchronized { seen ++= flagged }; ()
      }.start()
    try {
      q.processAllAvailable()
      // batch 2: a near-dup of batch 1's NOVEL doc must now be caught
      Seq((20L, b + " forever")).toDF("doc_id", "text")
        .write.parquet(s"$src/b1")
      q.processAllAvailable()
    } finally q.stop()
    val byId = seen.toMap
    assert(byId(10L), "near-dup of the pre-stream store flagged")
    assert(!byId(11L), "novel doc passes")
    assert(byId(20L), "batch 2 deduped against batch 1's survivor")
  }

  test("ANN store ingests from a stream: foreachBatch appends generations, reads are latest-wins") {
    // continuous embedding ingestion: each micro-batch becomes one
    // generation append (gen = batchId, so replays of a batch land on
    // the same generation), readers merge-on-read as usual
    val src = java.nio.file.Files.createTempDirectory("graft-ann-src").toString
    val store = java.nio.file.Files.createTempDirectory("graft-ann-store").toString
    val ck = java.nio.file.Files.createTempDirectory("graft-ann-ck").toString
    def v(xs: Double*): Seq[Float] = xs.map(_.toFloat)
    val c0 = v(1, 0, 0, 0); val c1 = v(0, 1, 0, 0)
    val centroids = Seq(c0, c1)
    val schema = Seq((0L, v(0, 0, 0, 0))).toDF("vec_id", "embedding").schema

    Seq((1L, v(1, 0, 0, 0)), (2L, v(0.9, 0.1, 0, 0)), (3L, v(0, 1, 0, 0)))
      .toDF("vec_id", "embedding").write.parquet(s"$src/b0")
    val q = spark.readStream.schema(schema).parquet(s"$src/*")
      .writeStream
      .option("checkpointLocation", ck)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, batchId: Long) =>
        SimilarityOps.appendIvfPartitioned(
          df, "vec_id", "embedding", centroids, store, gen = batchId)
      }
      .start()
    try {
      q.processAllAvailable()
      // batch 1: id 2 re-embedded (cell move), id 4 inserted
      Seq((2L, v(0, 1, 0, 0)), (4L, v(0.8, 0.2, 0, 0)))
        .toDF("vec_id", "embedding").write.parquet(s"$src/b1")
      q.processAllAvailable()
    } finally q.stop()

    val got = SimilarityOps.ivfTopKPartitioned(spark, store, "vec_id",
        "embedding", c0, centroids, k = 10, nprobe = 2)
      .as[(Long, Double)].collect().toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L))
    assert(got(2L) == 0.0, "the stream's later generation must win for id 2")
    assert(got(1L) == 1.0)
  }

  test("meanPool: hand-computed element means, bit-equal under repartition") {
    val df = Seq(
      (1L, Seq(1.0f, 2.0f)), (1L, Seq(3.0f, 4.0f)), (1L, Seq(5.0f, 0.0f)),
      (2L, Seq(0.5f, 0.5f))
    ).toDF("doc", "embedding")
    def run(d: org.apache.spark.sql.DataFrame) =
      SimilarityOps.meanPool(d, "doc", "embedding")
        .select($"g", $"i", $"mean_val").as[(Long, Int, Double)]
        .collect().sortBy(r => (r._1, r._2)).toSeq
    val got = run(df)
    assert(got == Seq((1L, 0, 3.0), (1L, 1, 2.0), (2L, 0, 0.5), (2L, 1, 0.5)))
    assert(run(df.repartition(7)) == got, "decimal sums are order-independent")
  }

  test("contrastivePairs: in-cell positives by cosine, md5-ranked hard negatives, caps hold") {
    val centroids = Seq(Seq(1.0f, 0.0f, 0.0f), Seq(0.0f, 1.0f, 0.0f))
    // cell 0: two aligned vectors + two near-orthogonal ones
    val vecs = Seq(
      (1L, Seq(1.0f, 0.1f, 0.0f)),
      (2L, Seq(1.0f, 0.2f, 0.0f)),    // cos(1,2) high → positive
      (3L, Seq(0.6f, 0.0f, -0.9f)),   // cell 0, cos(1,3) small
      (4L, Seq(0.6f, 0.0f, 0.9f)),    // cell 0, cos(3,4) negative
      (5L, Seq(0.0f, 1.0f, 0.0f))     // cell 1 — never paired with cell 0
    ).toDF("vec_id", "embedding")
    val out = SimilarityOps.contrastivePairs(vecs, "vec_id", "embedding",
        centroids, kPos = 1, kNeg = 1, posMin = 0.9, negMax = 0.1)
      .select($"id", $"other_id", $"label").as[(Long, Long, Int)]
      .collect().toSet
    // positives: exactly the (1,2) alignment, both directions
    assert(out.filter(_._3 == 1) == Set((1L, 2L, 1), (2L, 1L, 1)))
    val negs = out.filter(_._3 == 0)
    assert(negs.forall { case (a, b, _) => a != 5L && b != 5L },
      "cell 1 must not leak into cell 0 negatives")
    assert(negs.groupBy(_._1).forall(_._2.size <= 1), "kNeg cap")
    assert(negs.exists { case (a, b, _) => Set(a, b) == Set(3L, 4L) },
      "the anti-aligned in-cell pair is a hard negative")
  }

  test("knnJoin: in-cell top-k by cosine, cross-cell neighbors excluded by design") {
    // 2 centroids on axes 0/1; vectors cluster around each
    val centroids = Seq(Seq(1.0f, 0.0f, 0.0f), Seq(0.0f, 1.0f, 0.0f))
    val vecs = Seq(
      (1L, Seq(1.0f, 0.1f, 0.0f)),   // cell 0
      (2L, Seq(1.0f, 0.2f, 0.0f)),   // cell 0 — closest to 1
      (3L, Seq(1.0f, 0.0f, 0.5f)),   // cell 0 — further from 1
      (4L, Seq(0.1f, 1.0f, 0.0f)),   // cell 1 (cosine to 1 is high-ish
                                     //   but cross-cell → never paired)
      (5L, Seq(0.0f, 1.0f, 0.3f))    // cell 1
    ).toDF("vec_id", "embedding")
    val knn = SimilarityOps.knnJoin(vecs, "vec_id", "embedding", centroids, k = 2)
      .select($"id", $"neighbor_id", $"rank").as[(Long, Long, Int)]
      .collect().groupBy(_._1).view.mapValues(
        _.sortBy(_._3).map(_._2).toSeq).toMap
    assert(knn(1L) == Seq(2L, 3L), "rank order must follow cosine desc")
    assert(knn(4L) == Seq(5L), "cell 1 only sees cell 1")
    assert(!knn(1L).contains(4L) && !knn(4L).contains(1L),
      "cross-cell pairs must not exist")
    assert(knn(3L).size == 2, "k caps the neighbor list")
  }

  test("sqrtSeedCentroids: k = ceil(sqrt(count)), md5-rank order, cap honored") {
    // ids deliberately sparse/offset: k must derive from COUNT, not
    // the id domain (the 10x replicas offset ids by millions)
    val ids = (0L until 100L).map(i => i * 1000000L + 7L)
    val vecs = ids.map(i => (i, Seq(i.toFloat, 1.0f)))
      .toDF("vec_id", "embedding")
    // independent reimplementation of the seed rule
    def hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val want = ids.sortBy(i => (hex(i.toString), i))
    val seeds = SimilarityOps.sqrtSeedCentroids(vecs, "vec_id", "embedding")
    assert(seeds.map(_.head.toLong) == want.take(10).map(i => i.toFloat.toLong),
      "k = ceil(sqrt(100)) = 10 smallest-md5 ids, in (hash, id) order")
    val capped = SimilarityOps.sqrtSeedCentroids(vecs, "vec_id", "embedding",
      maxSeeds = 3)
    assert(capped == seeds.take(3),
      "cap must keep the deterministic hash-order prefix")
  }

  test("pair budget: blocked self-joins refuse an all-pairs-in-disguise cell") {
    // one centroid → every vector lands in one cell → n·(n−1) pairs
    val one = Seq(Seq(1.0f, 0.0f))
    val vecs = (0L until 40L).map(i =>
      (i, Seq(1.0f, i.toFloat / 40))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      SimilarityOps.knnJoin(vecs, "vec_id", "embedding", one, k = 2,
        maxPairs = 100L).collect()
    }
    assert(e.getMessage.contains("maxPairs") &&
      e.getMessage.contains("sqrt"), "failure must carry guidance")
    intercept[IllegalArgumentException] {
      SimilarityOps.semDedup(vecs, "vec_id", "embedding", one, 0.5,
        maxPairs = 100L).collect()
    }
    intercept[IllegalArgumentException] {
      SimilarityOps.contrastivePairs(vecs, "vec_id", "embedding", one,
        kPos = 1, kNeg = 1, posMin = 0.9, negMax = 0.1,
        maxPairs = 100L).collect()
    }
    // within budget: same call succeeds (40·39 = 1560 ≤ 2000)
    assert(SimilarityOps.knnJoin(vecs, "vec_id", "embedding", one, k = 2,
      maxPairs = 2000L).count() > 0)
  }

  test("curate: gate, keep-first dedup, decontamination and sample compose in order") {
    val base = "the quick brown fox jumps over the lazy dog near the old barn " +
      "while the cat naps by the warm fire and the birds sing songs"
    val contaminated = "the eval set has this exact secret benchmark phrase inside " +
      "and the rest of the text is long enough to pass the quality gate today"
    val corpus = Seq(
      (1L, base),                    // survives
      (3L, base),                    // exact dup of 1 → dropped (keep-first)
      (5L, "too short"),             // gate: n_words < 20
      (7L, contaminated),            // decon: shares a 5-gram with the eval set
      (9L, base + " plus a tail that makes this doc distinct from one")
    ).toDF("doc_id", "text")
    val testSet = Seq(
      (100L, "eval doc with this exact secret benchmark phrase inside it")
    ).toDF("doc_id", "text")
    def run(th: String) = CurationOps.curate(corpus, testSet,
        "doc_id", "text", sampleThresholdHex = th)
      .select($"doc_id", $"n_tokens").as[(Long, Long)].collect().toMap
    val all = run("g") // 'g' sorts above every md5 hex digit: keep all
    assert(all.keySet == Set(1L, 9L),
      s"want gate/dedup/decon survivors 1 and 9, got ${all.keySet}")
    assert(all(1L) == 26L, "n_tokens counts whitespace tokens")
    assert(run("").isEmpty, "empty threshold keeps nothing")
    // threshold is a lexicographic md5 compare: survivors of 'c' are
    // exactly the all-survivors whose md5 sorts below it
    val sampled = run("c").keySet
    val expected = Set(1L, 9L).filter { id =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString < "c"
    }
    assert(sampled == expected)
  }

  test("scriptProfile: hand-computed script counts, NFC-first, dominant tie-break") {
    val cyr = "\u043c\u0438\u0440" // мир — 3 Cyrillic
    val han = "\u4f60\u597d"       // 你好 — 2 Han
    val df = Seq(
      (1L, s"ab $cyr"),            // 2 latin, 3 cyrillic, 1 space
      (2L, s"$han x1 "),           // 2 han, 1 latin, 1 digit, 2 spaces
      (3L, "e\u0301e\u0301"),      // NFC composes to 2 Latin é chars
      (4L, s"ab $cyr x"),          // latin==cyrillic==3 → latin wins tie
      (5L, "")                     // empty: all zeros, script=none
    ).toDF("doc_id", "text")
    val out = TextOps.scriptProfile(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    def row(id: Long) = out(id)
    assert(row(1L).getLong(1) == 6 && row(1L).getLong(2) == 2 &&
      row(1L).getLong(3) == 3 && row(1L).getString(10) == "cyrillic")
    assert(row(2L).getLong(5) == 2 && row(2L).getLong(2) == 1 &&
      row(2L).getLong(7) == 1 && row(2L).getLong(8) == 2 &&
      row(2L).getString(10) == "han")
    // NFC inside the operator: 4 raw codepoints become 2 composed Latin
    assert(row(3L).getLong(1) == 2 && row(3L).getLong(2) == 2 &&
      row(3L).getString(10) == "latin")
    assert(row(4L).getLong(2) == 3 && row(4L).getLong(3) == 3 &&
      row(4L).getString(10) == "latin", "fixed-order tie-break")
    assert(row(5L).getLong(1) == 0 && row(5L).getString(10) == "none" &&
      row(5L).getDouble(9) == 0.0)
    // latin_ratio over non-space chars: doc 1 → 2/5
    assert(math.abs(row(1L).getDouble(9) - 0.4) < 1e-9)
  }

  test("gopherQuality: each rule's metric is exact and the gate fires per rule") {
    // doc 1: 55 words, mean 36/11 chars, 4 stopword hits/rep -> keep
    val good = ("the cat sat on mat with dog and bird that flew " * 5).trim
    // doc 2: symbol + mean-length metrics hand-checked, fails the gate
    val symbolic = "aa# bb cc..."
    // doc 3: long enough but zero stopwords -> stopword rule fires
    val noStop = (("lorem ipsum dolor amet " * 13).trim)
    val df = Seq((1L, good), (2L, symbolic), (3L, noStop), (4L, ""))
      .toDF("doc_id", "text")
    val got = TextOps.gopherQuality(df, "doc_id", "text")
      .as[(Long, Long, Double, Double, Double, Long, Int)]
      .collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 55L, 3.272727, 0.0, 1.0, 20L, 1)))
    assert(got(2L)._2 == 3L)
    assert(got(2L)._3 == 3.333333) // (3 + 2 + 5) chars / 3 words, 6 dp
    assert(got(2L)._4 == 0.666667) // (1 hash + 1 ellipsis) / 3 words
    assert(got(2L)._5 == 1.0 && got(2L)._7 == 0)
    assert(got(3L)._2 == 52L && got(3L)._6 == 0L && got(3L)._7 == 0)
    assert(got(4L) == ((4L, 0L, 0.0, 0.0, 0.0, 0L, 0)))
  }
}

/** Shared fixture: a minimal spec-shaped MP4 — ftyp + mdat (550 bytes,
  * 10 samples sized 10..100) + moov(mvhd 5s@600, trak(tkhd 320x240,
  * mdia(mdhd 5000@1000, hdlr 'vide', minf(stbl(stts, stss [1,4,7,10],
  * stsc chunk runs (1,4),(2,3), stsz, stco [28,128,308]))))).
  * mdat-before-moov keeps chunk offsets computable up front:
  * chunk1 @28 (samples 1-4 = 100B), chunk2 @128 (5-7), chunk3 @308.
  */
object LlmOpsSpec {
  def sampleMp4: Array[Byte] = {
    def u32(v: Long) = Array((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    def u16(v: Int) = Array((v >> 8).toByte, v.toByte)
    def cc(s: String) = s.getBytes("US-ASCII")
    def mbox(typ: String, parts: Array[Byte]*): Array[Byte] = {
      val body = parts.flatten.toArray
      u32(8L + body.length) ++ cc(typ) ++ body
    }
    val vf = Array[Byte](0, 0, 0, 0) // version 0 + flags
    val sizes = (1 to 10).map(_ * 10L) // sample sizes 10..100, total 550
    val ftyp = mbox("ftyp", cc("isom"), u32(0), cc("isom")) // 20 bytes
    val mdat = mbox("mdat", Array.tabulate[Byte](550)(i => (i % 251).toByte))
    val mvhd = mbox("mvhd", vf, u32(0), u32(0), u32(600), u32(3000),
      Array.fill[Byte](80)(0)) // rate/volume/matrix/next-track: padding
    val tkhd = mbox("tkhd", vf, u32(0), u32(0), u32(1), u32(0), u32(5000),
      Array.fill[Byte](52)(0), // reserved + layer/alt/volume + matrix
      u32(320L << 16), u32(240L << 16)) // 16.16 fixed dimensions
    val mdhd = mbox("mdhd", vf, u32(0), u32(0), u32(1000), u32(5000),
      u16(0x55c4), u16(0))
    val hdlr = mbox("hdlr", vf, u32(0), cc("vide"), Array.fill[Byte](13)(0))
    val stsd = mbox("stsd", vf, u32(0))
    val stts = mbox("stts", vf, u32(1), u32(10), u32(500))
    val stss = mbox("stss", vf, u32(4), u32(1), u32(4), u32(7), u32(10))
    val stsc = mbox("stsc", vf, u32(2), u32(1), u32(4), u32(1), u32(2), u32(3), u32(1))
    val stsz = mbox("stsz", vf, u32(0), u32(10), sizes.flatMap(u32).toArray)
    val stco = mbox("stco", vf, u32(3), u32(28), u32(128), u32(308))
    val stbl = mbox("stbl", stsd, stts, stss, stsc, stsz, stco)
    val trak = mbox("trak", tkhd, mbox("mdia", mdhd, hdlr, mbox("minf", stbl)))
    ftyp ++ mdat ++ mbox("moov", mvhd, trak)
  }
}
