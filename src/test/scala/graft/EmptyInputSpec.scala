package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Envelope
import graft.ops._

/** Empty-input robustness: at 100 TB every operator eventually meets
  * an empty table, an empty partition, or a filter that matches
  * nothing — none may throw, and all must produce an empty (or
  * well-defined) result. Each op runs on a zero-row slice of its
  * usual input so schemas are realistic.
  */
class EmptyInputSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def docs0: DataFrame =
    graft.sources.ImportSource.table(spark, sf, "documents").where(lit(false))
  private def events0: DataFrame =
    graft.sources.ImportSource.table(spark, sf, "events").where(lit(false))

  test("text/dedup/sampling operators accept empty corpora") {
    assert(DedupOps.exactDuplicates(docs0, "doc_id", "text").count() == 0)
    assert(DedupOps.jaccardNearDuplicates(docs0, "doc_id", "text", 0.0).count() == 0)
    assert(DedupOps.nearDuplicates(docs0, "doc_id", "text", 0.0).count() == 0)
    assert(DedupOps.decontaminate(docs0, docs0, "doc_id", "text").count() == 0)
    assert(TextOps.cleanCorpus(docs0, "doc_id", "text", "lang",
      Seq("en"), 1, 0.0).count() == 0)
    assert(TextOps.tfidfTopTerms(docs0, "doc_id", "text", 3).count() == 0)
    assert(TextOps.bm25(docs0, "doc_id", "text", Seq("x")).count() == 0)
    assert(TextOps.vocabulary(docs0, "text", 5).count() == 0)
    assert(TextOps.invertedIndex(docs0, "doc_id", "text").count() == 0)
    assert(SampleOps.weightedSample(docs0, "doc_id", "n_chars", 0.01).count() == 0)
    assert(SampleOps.mixtureSample(docs0, "doc_id", "lang",
      Map("en" -> 1.0)).count() == 0)
    assert(PackOps.chunkAssignments(docs0, "doc_id",
      TextOps.tokenCount(col("text")), 512L).count() == 0)
    assert(TextOps.repetitionStats(docs0, "doc_id", "text").count() == 0)
    assert(TextOps.tokenEntropy(docs0, "doc_id", "text").count() == 0)
    assert(TextOps.unigramLogProb(docs0, "doc_id", "text").count() == 0)
    assert(docs0.select(TextOps.scrubPii(col("text")),
      TextOps.urlHost(col("text")),
      TextOps.registeredDomain(col("text"))).count() == 0)
    assert(ClassifierOps.nbClassify(docs0, "doc_id", "lang", "text").count() == 0)
    assert(SampleOps.exactKPerGroup(docs0, "doc_id", "lang", 5).count() == 0)
    // profile on an empty table still reports one row per column
    // (n=0, null min/max) — the well-defined, not-empty, answer
    assert(StatsOps.profile(docs0, Seq("doc_id", "lang")).count() == 2)
    val emb0 = graft.sources.ImportSource.table(spark, sf, "embeddings")
      .where(lit(false))
    assert(graft.ops.SimilarityOps.semDedup(emb0, "vec_id", "embedding",
      Seq(Seq(1.0f, 0.0f)), 0.5).count() == 0)
    // an EMPTY delta append (a day with no new embeddings) must leave
    // the store answering unchanged, and compaction must accept a
    // store holding empty-generation appends
    locally {
      val emb = graft.sources.ImportSource.table(spark, sf, "embeddings")
      val cents = Seq(Seq.tabulate(64)(d => if (d == 0) 1.0f else 0.0f),
        Seq.tabulate(64)(d => if (d == 1) 1.0f else 0.0f))
      val dir = java.nio.file.Files.createTempDirectory("ivf_empty").toString + "/s"
      graft.ops.SimilarityOps.writeIvfPartitioned(
        emb, "vec_id", "embedding", cents, dir)
      val q = emb.select(col("embedding")).head().getSeq[Float](0)
      def top() = graft.ops.SimilarityOps.ivfTopKPartitioned(
          spark, dir, "vec_id", "embedding", q, cents, 5, nprobe = 2)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val before = top()
      graft.ops.SimilarityOps.appendIvfPartitioned(
        emb0, "vec_id", "embedding", cents, dir, gen = 1L)
      assert(top() == before)
      graft.ops.SimilarityOps.compactIvfPartitioned(
        spark, dir, "vec_id", "embedding", cents)
      assert(top() == before)
    }
  }

  test("changelog/window/join operators accept empty changelogs") {
    val cl0 = events0.select(
      col("ts").as(Envelope.TimestampCol),
      col("event_id").as(Envelope.LsnCol),
      col("user_id"), lit("UPDATE").as(Envelope.OperationCol), col("value"))
      .withColumn(Envelope.SequenceCol, lit(null).cast("long"))
    assert(ChangelogOps.latestRowView(cl0, Seq(col("user_id"))).count() == 0)
    assert(ChangelogOps.sessionize(events0, col("user_id"), col("ts"), 60L).count() == 0)
    assert(ChangelogOps.gapDetect(events0, col("event_id")).count() == 0)
    assert(TemporalJoins.asOfJoin(
      events0.select(col("user_id"), col("ts"), col("event_id")),
      events0.select(col("user_id"), col("ts"), col("value")),
      "user_id", "user_id", "ts", "ts", Seq("value")).count() == 0)
    // the fold over zero rows is the identity InsertResult, not a crash
    val r = ChangelogOps.insertResult(
      events0.withColumnRenamed("event_id", Envelope.LsnCol))
    assert(r.count() == 1) // one summary row: (0 rows, null lsn)
  }

  test("duplicate clustering converges immediately on an empty pair list") {
    val pairs0 = spark.range(0).select(col("id").as("id_a"), col("id").as("id_b"))
    assert(DedupOps.duplicateClusters(pairs0).count() == 0)
  }

  test("round-5 operators accept empty corpora") {
    val emb0 = graft.sources.ImportSource.table(spark, sf, "embeddings")
      .where(lit(false))
    assert(ClusterOps.kmeans(emb0, "vec_id", "embedding", 4, 2).count() == 0)
    assert(StatsOps.embeddingCovariance(emb0, "embedding").count() == 0)
    assert(StatsOps.pcaProject(emb0, "vec_id", "embedding", 2).count() == 0)
    assert(TextOps.duplicateSpans(docs0, "doc_id", "text", 4).count() == 0)
    assert(TextOps.cutDuplicateSpans(docs0, "doc_id", "text", 4).count() == 0)
    assert(TextOps.gopherQuality(docs0, "doc_id", "text").count() == 0)
    val labeled0 = docs0.withColumn("is_en", (col("lang") === "en").cast("int"))
    assert(ClassifierOps.tokenMI(labeled0, "doc_id", "is_en", "text", 10)
      .count() == 0)
    assert(ClassifierOps
      .logregTrainScore(labeled0, "doc_id", "is_en", "text", steps = 2)
      .count() == 0)
  }

  test("round-6 operators accept empty corpora") {
    assert(TextOps.perplexityBuckets(docs0, "doc_id", "text", "lang",
      col("source") === "src0").count() == 0)
    assert(SampleOps.tokenBudgetSample(
      docs0.withColumn("w", lit(1L)), "doc_id", "lang", "w", 100L)
      .count() == 0)
    // zipfSlope's well-defined 1-row empty answer is pinned in LlmOpsSpec
  }

  test("round-7: jlProject accepts an empty corpus") {
    val emb0 = graft.sources.ImportSource.table(spark, sf, "embeddings")
      .where(lit(false))
    val proj = graft.ops.SimilarityOps.jlProject(emb0, "vec_id", "embedding", 8)
    assert(proj.columns.toSeq == Seq("id", "j", "value"))
    assert(proj.count() == 0)
  }

  test("round-10: the two-level family accepts an empty corpus (k1 = 0 branch)") {
    val emb0 = graft.sources.ImportSource.table(spark, sf, "embeddings")
      .where(lit(false))
    val a = graft.ops.SimilarityOps.twoLevelAssign(emb0, "vec_id", "embedding")
    assert(a.columns.toSeq == Seq("id", "vec", "cell"))
    assert(a.count() == 0)
    assert(graft.ops.SimilarityOps.semDedupTwoLevel(
      emb0, "vec_id", "embedding", threshold = 0.9).count() == 0)
    // string ids would cast to null seed ids and fall back to the
    // sentinel path silently: the family refuses them by name
    val strIds = emb0.withColumn("vec_id", col("vec_id").cast("string"))
    val e = intercept[IllegalArgumentException](
      graft.ops.SimilarityOps.twoLevelAssign(strIds, "vec_id", "embedding"))
    assert(e.getMessage.contains(
      "twoLevelAssign: id column must be an integral type, got string"))
  }

  test("round-11: cellRecall accepts an empty corpus and an empty query sample") {
    val emb = graft.sources.ImportSource.table(spark, sf, "embeddings")
    val emb0 = emb.where(lit(false))
    // empty corpus: empty assignment → empty recall frame, no throw
    val a0 = graft.ops.SimilarityOps.twoLevelAssign(emb0, "vec_id", "embedding")
    val r0 = graft.ops.SimilarityOps.cellRecall(
      a0, "id", "vec", "cell", lit(true), k = 5)
    assert(r0.columns.toSeq == Seq("qid", "n_hits", "recall"))
    assert(r0.count() == 0)
    // non-empty corpus, predicate matching NO queries: also empty
    val a = graft.ops.SimilarityOps.twoLevelAssign(
      emb.limit(40), "vec_id", "embedding")
    assert(graft.ops.SimilarityOps.cellRecall(
      a, "id", "vec", "cell", lit(false), k = 5).count() == 0)
  }

  test("semDedupProbed refuses a caller frame that breaks probe_cells[0] == cell") {
    import spark.implicits._
    val v = Seq(1f, 0f)
    val ok = Seq((1L, v, 0, Option(Seq(0, 1))), (2L, v, 1, Option(Seq(1, 0))))
    def frame(rows: Seq[(Long, Seq[Float], Int, Option[Seq[Int]])]) =
      rows.toDF("id", "vec", "cell", "probe_cells")
    // the contract holds: the keep rule answers (2 drops as 1's dup)
    assert(SimilarityOps.semDedupProbed(frame(ok), 0.9)
      .where(col("kept")).count() == 1)
    // each broken row joins as an owner of cell 0 without being
    // counted by the one-pass estimate: refused, not under-budgeted
    for (probe <- Seq(None, Some(Seq.empty[Int]), Some(Seq(1, 0)))) {
      val e = intercept[IllegalArgumentException](SimilarityOps
        .semDedupProbed(frame(ok :+ ((3L, v, 0, probe))), 0.9).count())
      assert(e.getMessage.contains(
        "semDedupProbed: 1 rows break the probe contract"), e.getMessage)
    }
  }

  test("latest-state reads refuse a keyless table by name") {
    import graft.model.{ColumnSpec, Operation, PgTypes, TableSchema}
    import org.apache.spark.sql.Row
    val keyless = TableSchema(1L, "public", "keyless", Seq(ColumnSpec("v", PgTypes.Int4)))
    val sink = new graft.sinks.WarehouseSink(spark,
      java.nio.file.Files.createTempDirectory("graft-keyless").toString)
    val ts = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
    val rows = (1 to 5).map(i =>
      Row(ts, Long.box(i.toLong), Long.box(1L), Operation.Insert, null, Row(Int.box(i))))
    sink.insert(keyless, spark.createDataFrame(java.util.List.of(rows: _*),
      Envelope.schemaFor(keyless.payloadStruct)))
    assert(sink.raw(keyless).count() == 5)
    // one partition over no key would answer a single row of the five
    val e = intercept[IllegalArgumentException](sink.latestView(keyless))
    assert(e.getMessage.contains("latestRowsMerged needs at least one primary-key column"),
      e.getMessage)
    val raw = sink.raw(keyless)
    assert(intercept[IllegalArgumentException](ChangelogOps.latestRows(raw, Nil))
      .getMessage.contains("latestRows needs"))
    assert(intercept[IllegalArgumentException](ChangelogOps.latestRowView(raw, Nil))
      .getMessage.contains("latestRowView needs"))
  }
}
