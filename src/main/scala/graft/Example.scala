package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.model._
import graft.sinks.WarehouseSink
import graft.sources.{ImportSource, PgOutput, PgOutputFrameLog}
import graft.streaming.CdcPipeline

/** End-to-end demo of the full CDC path on real test data:
  * batch import → raw warehouse table, then a binary pgoutput stream
  * decoded → sequenced → appended, and finally the latest-row view —
  * the minimum end-to-end slice of SURVEY.md §7.2, runnable with
  * `sbt "runMain graft.Example"`.
  */
object Example {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = java.nio.file.Files.createTempDirectory("graft-example").toString
    // the engine's session posture (SessionDefaults: AQE, UTC, local
    // checkpoint writes), then the demo's own explicit settings
    val spark = SessionDefaults(SparkSession.builder()
        .master("local[4]")
        .appName("graft-example"), cores = 4)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // 1. batch import: region table -> IMPORT envelopes -> warehouse raw
    val table = Envelope.tableSchemaOf(1L, "public", "region",
      ImportSource.table(spark, sfDir, "region").schema, Seq("r_regionkey"))
    val sink = new WarehouseSink(spark, out)
    val watermark = new CdcPipeline.AckWatermark
    val imported = CdcPipeline.consumeBatch(
      ImportSource.importTable(spark, sfDir, "region",
        java.sql.Timestamp.valueOf("2024-06-01 00:00:00")),
      table, sink, watermark)
    println(s"imported: $imported")

    // 2. a binary pgoutput transaction — rename region 0, delete
    // region 4 — appended to a frame log and consumed through the
    // DSv2 micro-batch source + streaming pipeline
    import PgOutput._
    val rel = Relation(1L, "public", "region", 'd'.toByte, Seq(
      RelationColumn(key = true, "r_regionkey", PgTypes.Int4, -1),
      RelationColumn(key = false, "r_name", PgTypes.Text, -1)))
    def cell(v: String) = Element('t'.toByte, Some(v.getBytes("UTF-8")))
    val wire: Seq[Array[Byte]] = Seq(
      encodeBegin(Begin(1000L, 775180800000000L, 7L)), // 2024-07-25 in pg micros
      encodeRelation(rel),
      encodeUpdate(Update(1L, None, None, TupleData(Seq(cell("0"), cell("RENAMED"))))),
      encodeDelete(Delete(1L, 'K'.toByte, TupleData(Seq(cell("4"), Element('n'.toByte, None))))),
      encodeCommit(Commit(0, 1000L, 1001L, 775180800000000L)))
    val frameDir = s"$out/frames"
    PgOutputFrameLog.append(frameDir, "seg-000", wire)
    val listener = new graft.streaming.CdcQueryListener
    spark.streams.addListener(listener)
    val query = graft.streaming.FrameStreamPipeline.start(
      spark, frameDir, sink, watermark, s"$out/ckpt", "1 seconds")
    try query.processAllAvailable() finally query.stop()
    println(s"streamed frames: ${wire.length}, ack watermark: ${watermark.position}")
    Thread.sleep(500) // listener events are async
    println(s"query stats: ${listener.statsOf(s"cdc-frames($frameDir)")}")

    // 3. the latest-row view: merge-on-read current state
    sink.registerViews(table)
    spark.sql("SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey").show()
    spark.sql("SELECT operation, count(*) AS n FROM region_raw GROUP BY operation ORDER BY operation").show()

    // 3a. compaction + time travel: same state, bounded read
    sink.compact(table)
    val compacted = sink.latestView(table).count()
    val asOfImport = sink.asOf(table,
      java.sql.Timestamp.valueOf("2024-06-15 00:00:00")).count()
    println(s"compacted view rows: $compacted, as-of pre-stream rows: $asOfImport")

    // 4. similarity search over embeddings: exact vs SRP-LSH vs IVF
    import graft.ops.SimilarityOps
    val emb = ImportSource.table(spark, sfDir, "embeddings")
    val all = emb.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1)).toMap
    val qVec = all(1L)
    val centroids = SimilarityOps.kmeansCentroids(emb, "vec_id", "embedding",
      k = 4, iterations = 3)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getLong(0)).mkString(",")
    println("exact top-5:   " +
      ids(SimilarityOps.cosineTopK(emb, "vec_id", "embedding", qVec, 5)))
    println("srp-lsh top-5: " +
      ids(SimilarityOps.annTopK(emb, "vec_id", "embedding", qVec, 5, planes = 4)))
    println("ivf top-5:     " +
      ids(SimilarityOps.ivfTopK(emb, "vec_id", "embedding", qVec, centroids, 5, nprobe = 2)))
    val pqBooks = SimilarityOps.pqCodebooks(emb, "vec_id", "embedding",
      m = 8, k = 16, iterations = 2)
    println("pq-adc top-5:  " +
      ids(SimilarityOps.pqTopK(emb, "vec_id", "embedding", qVec, pqBooks, 5)))
    val sem = SimilarityOps.semDedup(emb, "vec_id", "embedding",
      centroids, threshold = 0.3)
    println("semdedup kept: " + sem.where(org.apache.spark.sql.functions
      .col("kept")).count() + "/" + sem.count())
    // SRP near-dup pairs with the COUNT-derived plane width — the
    // self-scaling spelling whose pair stream stays ≤ n (q199)
    println("srp near-dup pairs (auto planes): " +
      SimilarityOps.bucketedNeighborPairsAuto(
        emb, "vec_id", "embedding", minCosine = 0.2).count())
    // the beyond-maxSeeds form: identical keep rule over two-level
    // composite cells (coarse literals + broadcast sub-centroids).
    // `oversample` is the family's recall-vs-cost dial, driven here
    // at its API default (ExampleDriftSpec pins the literal to the
    // reflected default so this demo can't silently fall behind)
    val sem2 = SimilarityOps.semDedupTwoLevel(emb, "vec_id", "embedding",
      threshold = 0.3, oversample = 2)
    println("semdedup two-level kept: " + sem2.where(
      org.apache.spark.sql.functions.col("kept")).count() + "/" + sem2.count())
    // the dial's RECALL side, measured the oracle-checkable way
    // (q189/q190): blocked recall@10 per sampled query at both
    // oversample settings — 1 buys recall, 2 buys cheaper pair lists
    locally {
      import org.apache.spark.sql.functions.{avg, col}
      def blockedRecall(os: Int): Double =
        SimilarityOps.cellRecall(
            SimilarityOps.twoLevelAssign(emb, "vec_id", "embedding",
              oversample = os),
            "id", "vec", "cell", col("id") % 10 === 0, k = 10)
          .agg(avg(col("recall"))).collect()(0).getDouble(0)
      println(f"two-level recall@10: oversample=1 ${blockedRecall(1)}%.3f" +
        f" vs oversample=2 ${blockedRecall(2)}%.3f")
      // and the MULTI-PROBE dial (q191-q194): probing the nprobe
      // nearest fine cells buys recall back at a linear pair-cost
      // factor — the recall/cost curve a caller tunes nprobe on
      def probedRecall(np: Int): Double =
        SimilarityOps.cellRecallProbe(
            SimilarityOps.twoLevelProbe(emb, "vec_id", "embedding",
              nprobe = np),
            "id", "vec", "cell", "probe_cells",
            col("id") % 10 === 0, k = 10)
          .agg(avg(col("recall"))).collect()(0).getDouble(0)
      println(f"two-level multi-probe recall@10: nprobe=1 " +
        f"${probedRecall(1)}%.3f vs nprobe=4 ${probedRecall(4)}%.3f")
      // the DECLARED retrieval operating point (q197, round 13): the
      // single-level surface at np = ceil(0.55*k) — the measured-
      // dominant dial for retrieval-grade recall; the two-level dial
      // above is the dedup/blocking surface (SURVEY 2.12 split)
      val cents = SimilarityOps.sqrtSeedCentroids(emb, "vec_id", "embedding")
      val np = math.ceil(0.55 * cents.size).toInt
      val opPoint = SimilarityOps.cellRecallProbe(
          SimilarityOps.ivfProbe(emb, "vec_id", "embedding", cents, np),
          "id", "vec", "cell", "probe_cells",
          col("id") % 10 === 0, k = 10)
        .agg(avg(col("recall"))).collect()(0).getDouble(0)
      println(f"retrieval operating point (single-level, np=$np/" +
        f"${cents.size}): recall@10 $opPoint%.3f")
    }
    // partitioned ANN store lifecycle: base write → generation append
    // (the daily delta) → directory-pruned probe resolving upserts
    // latest-wins → compaction folding the log
    locally {
      import org.apache.spark.sql.functions.col
      val store = s"$out/ann_store"
      SimilarityOps.writeIvfPartitioned(emb.where(col("vec_id") % 2 === 0),
        "vec_id", "embedding", centroids, store)
      SimilarityOps.appendIvfPartitioned(emb.where(col("vec_id") % 2 === 1),
        "vec_id", "embedding", centroids, store, gen = 1L)
      println("ivf-store top-5: " + ids(SimilarityOps.ivfTopKPartitioned(
        spark, store, "vec_id", "embedding", qVec, centroids, 5, nprobe = 2)))
      // the default dial: nprobe omitted → the declared retrieval
      // operating point ⌈0.55·k⌉ (retrievalNprobe, q197/q200)
      println("ivf-store top-5 @declared dial: " +
        ids(SimilarityOps.ivfTopKPartitioned(
          spark, store, "vec_id", "embedding", qVec, centroids, 5)))
      SimilarityOps.compactIvfPartitioned(spark, store, "vec_id", "embedding",
        centroids)
      println("ivf-store compacted rows: " + spark.read.parquet(store).count())
    }

    // 5. temporal joins + deterministic sampling over the event stream
    import graft.ops.{SampleOps, TemporalJoins}
    import org.apache.spark.sql.functions.col
    val ev = ImportSource.table(spark, sfDir, "events")
    val clicks = ev.where(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_event_id"))
    val asOfMatched = TemporalJoins.asOfJoin(clicks, purchases,
        "user_id", "p_user", "ts", "p_ts", Seq("p_event_id"))
      .where(col("p_event_id").isNotNull).count()
    val l = ev.select(col("event_id").as("a_id"), col("user_id"), col("ts"))
    val r = ev.select(col("event_id").as("b_id"),
      col("user_id").as("b_user"), col("ts").as("b_ts"))
    val within1h = TemporalJoins.bandedRangeJoin(
      l, r, "user_id", "b_user", "ts", "b_ts", 3600L).count()
    val docs = ImportSource.table(spark, sfDir, "documents")
    val sampled = SampleOps.stratifiedSample(docs, "doc_id", "lang",
      Map("en" -> 0.25), default = 0.6).count()
    println(s"as-of matched clicks: $asOfMatched, pairs within 1h: $within1h, " +
      s"stratified sample: $sampled/${docs.count()}")

    // 6. corpus analytics: TF-IDF key terms, a BM25 search, and a
    // bloom-prefiltered join (the runtime-filter shape)
    import graft.ops.{SketchOps, TextOps}
    val topTerms = TextOps.tfidfTopTerms(docs, "doc_id", "text", 1)
      .where(col("doc_id") < 3).orderBy(col("doc_id"))
      .select(col("doc_id"), col("token")).collect()
      .map(r => s"${r.getLong(0)}:${r.getString(1)}").mkString(" ")
    val hits = TextOps.bm25(docs, "doc_id", "text", Seq("join", "shuffle"))
      .orderBy(col("score").desc, col("doc_id")).limit(3)
      .collect().map(_.getLong(0)).mkString(",")
    val li = ImportSource.table(spark, sfDir, "lineitem")
    val urgent = ImportSource.table(spark, sfDir, "orders")
      .where(col("o_orderpriority") === "1-URGENT").select(col("o_orderkey"))
    val bloomJoined = SketchOps.bloomPrefilterJoin(
      li, urgent, "l_orderkey", "o_orderkey", 1 << 14, 5).count()
    println(s"tfidf key terms: $topTerms | bm25 top docs: $hits | " +
      s"bloom-joined urgent lineitems: $bloomJoined")

    // ---- round-5 curation surface, composed the way a pipeline
    // ships it: heuristic gate -> span-level dedup audit -> embedding
    // clusters -> feature selection -> trained linear gate ----
    import org.apache.spark.sql.functions.{element_at, round, stddev}
    import graft.ops.{ClassifierOps, ClusterOps, StatsOps}
    val gated = TextOps.gopherQuality(docs, "doc_id", "text",
      minWords = 20) // fixture docs average ~54 words
    val spans = TextOps.duplicateSpans(docs, "doc_id", "text", 4)
    val clusters = ClusterOps.kmeans(emb, "vec_id", "embedding", 4, 2)
      .groupBy(col("cluster")).count().orderBy(col("cluster"))
      .collect().map(r => s"${r.getInt(0)}:${r.getLong(1)}").mkString(" ")
    val labeled = docs.withColumn("is_en", (col("lang") === "en").cast("int"))
    val features = ClassifierOps.tokenMI(labeled, "doc_id", "is_en", "text", 3)
      .collect().map(_.getString(0)).mkString(",")
    val enAcc = ClassifierOps
      .logregTrainScore(labeled, "doc_id", "is_en", "text", steps = 3)
      .join(labeled.select(col("doc_id"), col("is_en")), "doc_id")
      .where(col("pred") === col("is_en")).count()
    val pcSpread = StatsOps.pcaProject(emb, "vec_id", "embedding", 1)
      .agg(round(stddev(element_at(col("pc"), 1)), 3)).collect()(0).get(0)
    println(s"gopher keep: ${gated.where(col("keep") === 1).count()}/" +
      s"${gated.count()} | dup spans: ${spans.count()} | " +
      s"kmeans sizes: $clusters | top MI: $features | " +
      s"logreg is-en accuracy: $enAcc/${labeled.count()} | pc1 sd: $pcSpread")

    // ---- round-6 surface: the one-plan curation chain, the
    // persisted LSH dedup index taking a second day's batch, kNN
    // retrieval + contrastive mining on IVF cells, and the
    // stateless JL projection ----
    import graft.ops.{CurationOps, DedupOps}
    val curated = CurationOps.curate(
      docs.where(col("doc_id") % 20 =!= 0),
      docs.where(col("doc_id") % 20 === 0), "doc_id", "text",
      minWords = 20)
    val lshDir = java.nio.file.Files
      .createTempDirectory("graft-ex-lsh").toString
    DedupOps.writeLshStore(
      docs.where(col("doc_id") % 2 === 0), "doc_id", "text", lshDir)
    val day2 = DedupOps.ingestDedup(spark, lshDir,
      docs.where(col("doc_id") % 2 === 1), "doc_id", "text")
    val cents = (0 until 4).map(c =>
      Seq.tabulate(64)(d => if (d == c) 1.0f else 0.0f))
    val knn = SimilarityOps.knnJoin(emb, "vec_id", "embedding", cents, 3)
    val pairsMined = SimilarityOps.contrastivePairs(emb, "vec_id",
      "embedding", cents, 2, 2, 0.2, 0.0)
    val jl = SimilarityOps.jlProject(emb, "vec_id", "embedding", 16)
    println(s"curated: ${curated.count()} survivors | " +
      s"lsh day-2 dups: ${day2.where(col("is_dup")).count()}/" +
      s"${day2.count()} | knn pairs: ${knn.count()} | " +
      s"contrastive (pos+neg): ${pairsMined.count()} | " +
      s"jl cells: ${jl.count()}")
    spark.stop()
  }
}
