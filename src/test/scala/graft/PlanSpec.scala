package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops._
import graft.sources.ImportSource

/** Physical-plan assertions: these lock in the properties that make
  * the operators viable at 100 TB — filters reaching the parquet
  * scan, dimension joins broadcasting, map-side-only expression
  * pipelines, and bounded shuffle counts. A regression here is a
  * performance bug even if results stay correct.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  def plan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan
  def planString(df: DataFrame): String = plan(df).toString
  // string-count because AdaptiveSparkPlanExec hides its input plan
  // from TreeNode.collect until execution
  def shuffles(df: DataFrame): Int =
    "Exchange (hash|range|Single)".r.findAllIn(planString(df)).size

  test("filter + projection push down to the parquet scan") {
    val df = ImportSource.table(spark, sf, "lineitem")
      .where(col("l_shipdate") <= lit("1995-01-01").cast(TimestampType))
      .select(col("l_orderkey"), col("l_quantity"))
    val s = planString(df)
    assert(s.contains("PushedFilters:") && s.contains("l_shipdate"),
      s"expected shipdate filter pushed to scan:\n$s")
    // column pruning: payload columns not read
    assert(s.contains("ReadSchema") && !s.contains("l_comment") &&
      !s.contains("l_extendedprice"), "expected pruned read schema")
  }

  test("corpus cleaning: lang filter pushed to scan, ONE shuffle (the fingerprint window)") {
    val df = graft.ops.TextOps.cleanCorpus(
      ImportSource.table(spark, sf, "documents"),
      "doc_id", "text", "lang", Seq("en", "fr"), minTokens = 20, minQuality = 0.75)
    val s = planString(df)
    // the language allowlist is a scan-level pushed filter: at 100 TB
    // the gate applies inside the parquet reader, not after it
    assert(s.contains("PushedFilters:") && s.contains("In(lang"),
      s"expected lang IN pushed to scan:\n$s")
    // token/quality gates are map-side; the only exchange is the
    // fingerprint keep-min window
    assert(shuffles(df) == 1, s"expected exactly one shuffle:\n$s")
  }

  test("Q6 shape: every predicate reaches the scan (pure pushed-filter aggregate)") {
    val df = SparkEntry.queries("q122_forecast_revenue")(spark, sf)
    val s = planString(df)
    assert(s.contains("PushedFilters:") && s.contains("l_shipdate") &&
      s.contains("l_discount") && s.contains("l_quantity"),
      s"expected all Q6 predicates pushed:\n$s")
  }

  test("keyset page plans as pushed filter + global TakeOrdered (no full sort)") {
    val df = ImportSource.keysetPage(
      ImportSource.table(spark, sf, "orders"), "o_orderkey", Some(100L), 50)
    val s = planString(df)
    assert(s.contains("TakeOrderedAndProject"), s"expected top-k plan:\n$s")
    assert(s.contains("GreaterThan(o_orderkey,100"), s"expected cursor pushdown:\n$s")
  }

  test("dimension joins broadcast, fact side never shuffles") {
    val q = SparkEntry.queries("q09_tables_listing")(spark, sf)
    val s = planString(q)
    assert(s.contains("BroadcastHashJoin"), s"expected broadcast join:\n$s")
  }

  test("text/dedup expression pipelines are map-side only (zero shuffles)") {
    val docs = ImportSource.table(spark, sf, "documents")
    val exprs = docs.select(
      TextOps.tokenCount(col("text")),
      TextOps.languageId(col("text")),
      TextOps.qualityScore(col("text")),
      DedupOps.simhash(col("text")),
      TextOps.minShingleFingerprint(col("text")))
    assert(shuffles(exprs) == 0,
      s"text analysis must not shuffle:\n${planString(exprs)}")
  }

  test("exact dedup is a single hash-aggregate shuffle") {
    val df = DedupOps.exactDuplicates(
      ImportSource.table(spark, sf, "documents"), "doc_id", "text")
    assert(shuffles(df) == 1, s"expected exactly one exchange:\n${planString(df)}")
  }

  test("minhash signatures: only the guard + the partial-agg id exchange") {
    // the r14 Shape-B adoption (DedupScaleProbe): the parallelism
    // guard's round-robin exchange carries TEXT (one string per doc),
    // tokens are computed map-side above it, and the id aggregation's
    // exchange carries k partially-aggregated mins per doc — no
    // exchange anywhere carries a raw token array. At production
    // partition counts the guard is a no-op and this is ONE exchange.
    val df = DedupOps.minhashSignatures(
      ImportSource.table(spark, sf, "documents"), "doc_id", "text", 16)
    assert(shuffles(df) <= 2,
      s"expected at most guard + id-agg exchanges:\n${planString(df)}")
    // the contract the restructure bought: no exchange ships tokens.
    // Checked on the exchanges' ATTRIBUTES, not the plan string —
    // toString prints only partitioning expressions on Exchange
    // lines, so a string match would pass even against the pre-r14
    // token-keyed shape (ADVICE r14). Execute first so AQE exposes
    // the final plan, then walk into query stages.
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    df.write.mode("overwrite").format("noop").save()
    def exchangesOf(p: SparkPlan): Seq[ShuffleExchangeExec] = {
      val here = p match {
        case e: ShuffleExchangeExec => Seq(e); case _ => Seq.empty
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec => Seq(s.plan)
        case other => other.children
      }
      here ++ kids.flatMap(exchangesOf)
    }
    val exchanges = exchangesOf(df.queryExecution.executedPlan)
    assert(exchanges.nonEmpty, "expected the id-agg exchange to be visible")
    exchanges.foreach { e =>
      val shipped = e.child.output.map(_.name)
      assert(!shipped.contains("_t"),
        s"an exchange carries the raw token array: shipped=$shipped")
    }
  }

  test("per-doc token pipelines: ONE keyed exchange, exploded rows never shuffle") {
    val docs = ImportSource.table(spark, sf, "documents")
    // repetitionStats: keyed exchange of token arrays, then an
    // exchange-free groupBy(id,b) -> groupBy(id) chain (no join)
    val rep = TextOps.repetitionStats(docs, "doc_id", "text")
    assert(shuffles(rep) == 1,
      s"repetitionStats must shuffle once (the keyed token exchange):\n${planString(rep)}")
    // tokenEntropy: same — the (id, token) agg, per-doc window and
    // final per-doc fold all ride the one id-hash exchange
    val ent = TextOps.tokenEntropy(docs, "doc_id", "text")
    assert(shuffles(ent) == 1,
      s"tokenEntropy must shuffle once:\n${planString(ent)}")
    // the scalar-counts projection must sit BELOW the exchange: in the
    // same select as an explode it is evaluated once per exploded row
    // (array_distinct per bigram measured 6x the whole query)
    // plans print parent-first, so anything BEFORE "Generate" in the
    // string sits above it in the tree and runs once per exploded row
    val s = planString(rep)
    val genIdx = s.indexOf("Generate")
    assert(genIdx >= 0 && !s.substring(0, genIdx).contains("array_distinct"),
      s"array_distinct must be computed below the Generate:\n$s")
  }

  test("cosine top-k plans as TakeOrderedAndProject, not global sort") {
    val emb = ImportSource.table(spark, sf, "embeddings")
    val q = Seq.fill(64)(0.1f)
    val df = SimilarityOps.cosineTopK(emb, "vec_id", "embedding", q, 10)
    val s = planString(df)
    assert(s.contains("TakeOrderedAndProject"), s"expected top-k plan:\n$s")
    assert(shuffles(df) == 0, "brute-force top-k needs no exchange")
  }

  test("six-table join (Q5 shape): hash joins only, dims broadcast") {
    val df = SparkEntry.queries("q53_local_supplier_volume")(spark, sf)
    val s = planString(df)
    assert(!s.contains("BroadcastNestedLoop") && !s.contains("CartesianProduct"),
      s"join degraded to nested loop:\n$s")
    assert("BroadcastHashJoin".r.findAllIn(s).size >= 2,
      s"nation/region must broadcast:\n$s")
  }

  test("kmv sketch: partial-aggregates map-side, one hash shuffle") {
    val df = graft.ops.SketchOps.kmvDistinct(
      ImportSource.table(spark, sf, "events"), "event_type", "user_id", 64)
    assert(shuffles(df) == 1,
      s"sketch agg must shuffle once:\n${planString(df)}")
    // typed-aggregator partial phase before the exchange: two
    // ObjectHashAggregate operators (partial + final), k-bounded state
    val aggs = "ObjectHashAggregate".r.findAllIn(planString(df)).size
    assert(aggs == 2, s"expected partial+final aggregation:\n${planString(df)}")
  }

  test("latest-row view: one shuffle on the partition keys") {
    val cl = ImportSource.table(spark, sf, "events").select(
      col("ts").as("timestamp"), col("event_id").as("lsn"),
      lit(null).cast(LongType).as("sequence"),
      lit("UPDATE").as("operation"), col("user_id"), col("value"))
    val df = ChangelogOps.latestRowView(cl, Seq(col("user_id")))
    assert(shuffles(df) == 1,
      s"window dedup must shuffle exactly once:\n${planString(df)}")
  }

  test("merged latest-state read: one PK exchange, also over baseline + tail") {
    import graft.model.{ColumnSpec, Envelope, Operation, PgTypes, TableSchema}
    import graft.sinks.{InsertResult, WarehouseSink}
    import org.apache.spark.sql.Row
    val lines = TableSchema(1L, "public", "lines", Seq(
      ColumnSpec("order_id", PgTypes.Int8, key = true),
      ColumnSpec("line", PgTypes.Int4, key = true),
      ColumnSpec("note", PgTypes.Text)))
    val schema = Envelope.schemaFor(lines.payloadStruct, withToastMarker = true)
    def batch(lsn0: Long) = spark.createDataFrame(java.util.List.of((0 until 8).map { i =>
      val img = Row(Int.box(i % 2), s"n$lsn0-$i", Long.box(i / 2L))
      Row(java.sql.Timestamp.valueOf(s"2024-03-0${1 + i % 2} 00:00:00"), Long.box(lsn0 + i),
        Long.box(1L), Operation.Update, img, img, if (i % 3 == 0) Seq("note") else null)
    }: _*), schema)
    val sink = new WarehouseSink(spark,
      java.nio.file.Files.createTempDirectory("graft-plan-merged").toString)
    // the window must partition by the projected keys, not re-extract
    // them from the image per window spec (one exchange per window)
    def assertOneExchange(df: DataFrame): Unit = {
      val s = planString(df)
      assert(shuffles(df) == 1 && "Exchange hashpartitioning\\(_key0#\\d+L?, _key1#".r
        .findAllIn(s).size == 1, s"expected one PK exchange:\n$s")
      // the newest-row marker and the TOAST fill share one Window (one sort)
      assert("\\bWindow \\[".r.findAllIn(s).size == 1, s"expected one Window:\n$s")
    }
    sink.insertCounted(lines, batch(100L), InsertResult.empty)
    assertOneExchange(sink.latestView(lines))
    sink.compact(lines)
    sink.insertCounted(lines, batch(200L), InsertResult.empty)
    assertOneExchange(sink.latestView(lines))
    assertOneExchange(sink.asOf(lines, java.sql.Timestamp.valueOf("2024-03-01 12:00:00")))
    assert(sink.latestView(lines).count() == 8)
  }

  test("dynamic partition pruning: a dim filter prunes fact partitions at runtime") {
    // the 100 TB shape: fact parquet partitioned on the join key's
    // directory column; a selective dimension filter must reach the
    // fact scan as a runtime partition filter (directories never read),
    // not as a post-scan filter
    val dir = java.nio.file.Files.createTempDirectory("dpp").toFile.getAbsolutePath
    ImportSource.table(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
      .write.partitionBy("event_type").mode("overwrite").parquet(dir)
    val fact = spark.read.parquet(dir)
    import spark.implicits._
    // the dim must be a real source with a surviving selective filter —
    // a LocalRelation constant-folds the filter away and DPP sees no
    // selective predicate to derive the pruning subquery from
    val dimDir = java.nio.file.Files.createTempDirectory("dpp-dim").toFile.getAbsolutePath
    Seq(("signup", 1), ("error", 2), ("click", 3), ("view", 4))
      .toDF("event_type", "type_id").write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir).where(col("type_id") === 1)
    val joined = fact.join(dim, "event_type")
    val s = joined.queryExecution.executedPlan.toString
    assert(s.contains("dynamicpruning"),
      s"expected a dynamic partition pruning filter on the fact scan:\n$s")
  }

  test("native runtime bloom filter injects on a selective shuffle join") {
    // Spark's InjectRuntimeFilter is the built-in twin of our manual
    // bloomPrefilterJoin: with a selective creation side it plants a
    // might_contain probe on the application side's scan. Thresholds
    // are sized for real clusters; lower them to demonstrate the plan
    // shape at test scale.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold"
    ).map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force shuffle join
      val li = ImportSource.table(spark, sf, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"))
      val urgent = ImportSource.table(spark, sf, "orders")
        .where(col("o_orderpriority") === "1-URGENT").select(col("o_orderkey"))
      val joined = li.join(urgent, li("l_orderkey") === urgent("o_orderkey"))
      val s = joined.queryExecution.optimizedPlan.toString
      assert(s.contains("might_contain") || s.contains("bloom_filter_agg"),
        s"expected an injected runtime bloom filter:\n$s")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("bloom prefilter: the native probe filters the fact scan before the join") {
    val li = ImportSource.table(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"))
    val urgent = ImportSource.table(spark, sf, "orders")
      .where(col("o_orderpriority") === "1-URGENT").select(col("o_orderkey"))
    val joined = SketchOps.bloomPrefilterJoin(
      li, urgent, "l_orderkey", "o_orderkey", 1 << 12, 4)
    val s = planString(joined)
    val filterAt = s.indexOf("bloom_might_contain")
    val joinAt = math.max(s.indexOf("Join"), s.indexOf("join"))
    assert(filterAt >= 0, s"bloom probe missing from plan:\n$s")
    // executed plans print top-down: the probe filter must sit BELOW
    // the join operator (appear after it in the string)
    assert(joinAt >= 0 && filterAt > joinAt,
      s"bloom probe must be below the join, on the scan side:\n$s")
  }

  test("NB classifier: model joins broadcast; no corpus-sized model exchange") {
    val docs = ImportSource.table(spark, sf, "documents")
    val df = ClassifierOps.nbClassify(docs, "doc_id", "lang", "text")
    val s = planString(df)
    // the token-model side must reach the scoring join as a
    // broadcast — the model is (vocab × labels) rows, corpus-size-
    // independent; a shuffled model join would tie model distribution
    // cost to corpus size
    assert(s.contains("BroadcastHashJoin"),
      s"model joins must broadcast:\n$s")
    // the scale-critical property: no TOKEN-keyed sort-merge join.
    // Doc-sized SMJs (score ⟕ matched on (id, label)) are fine — they
    // ride id-hash exchanges of |docs|×|labels| rows — but a
    // sort-merge on the exploded token stream would shuffle the
    // corpus's token multiset
    assert(!"SortMergeJoin \\[token".r.findFirstIn(s).isDefined,
      s"token join must broadcast, not sort-merge:\n$s")
  }

  test("kmeans assignment is a pure projection: zero exchanges, argmin below any explode") {
    val emb = ImportSource.table(spark, sf, "embeddings")
    val assign = ClusterOps.kmeans(emb, "vec_id", "embedding", k = 4,
      rounds = 0)
    // rounds = 0 isolates the assignment plan: centroids are
    // literals, so scoring every row against k centroids must add
    // NO exchange of any kind
    assert(shuffles(assign) == 0,
      s"assignment must not shuffle:\n${planString(assign)}")
    // the 10x-probe regression: a Generate above the argmin would
    // re-evaluate the k-way least() once per exploded dimension.
    // The update-round plan must keep Generate's CHILD carrying the
    // computed _cid attribute (argmin below the explode)
    val s = planString(assign)
    assert(!s.contains("Generate"), s"no generator in assignment:\n$s")
  }

  test("duplicate spans: gram + island exchanges only, one sort serves both windows") {
    val docs = ImportSource.table(spark, sf, "documents")
    val df = TextOps.duplicateSpans(docs, "doc_id", "text", 4)
    // keyed tokenize exchange + gram window exchange + island window
    // exchange; the two island windows and the island aggregation
    // must share the id-keyed sort, adding no fourth exchange
    assert(shuffles(df) <= 3,
      s"expected <=3 exchanges (keyed, gram, island):\n${planString(df)}")
  }

  test("token MI: distinct rides array_distinct, single token exchange, totals broadcast") {
    val docs = ImportSource.table(spark, sf, "documents")
      .withColumn("is_en", (col("lang") === "en").cast("int"))
    val df = ClassifierOps.tokenMI(docs, "doc_id", "is_en", "text", 30)
    val s = planString(df)
    // presence dedup happens per-document inside the projection —
    // a corpus-wide distinct before the aggregation would add a
    // (doc, token) exchange ahead of the token-keyed one
    assert(s.contains("array_distinct"), s"per-doc distinct:\n$s")
    // keyed tokenize exchange + token aggregation exchange (the
    // 1-row totals subtree adds a SinglePartition exchange, which is
    // row-bounded); the top-k must plan as TakeOrdered, not a global
    // range-sort exchange
    assert("Exchange hashpartitioning".r.findAllIn(s).size <= 2,
      s"expected <=2 hash exchanges:\n$s")
    assert(!s.contains("Exchange rangepartitioning"),
      s"no global sort exchange:\n$s")
    assert(s.contains("TakeOrderedAndProject"),
      s"top-k must TakeOrdered:\n$s")
  }

  test("covariance: pair explosion aggregates in one exchange; dim joins broadcast") {
    val emb = ImportSource.table(spark, sf, "embeddings")
    val df = StatsOps.embeddingCovariance(emb, "embedding")
    val s = planString(df)
    // the corpus-sized Generate feeds ONE (i, j) hash aggregation;
    // the per-dimension sums join back as broadcasts (dim-sized)
    assert(s.contains("BroadcastHashJoin"), s"dim joins broadcast:\n$s")
    assert(!s.contains("SortMergeJoin"),
      s"no sort-merge on dim-sized sides:\n$s")
  }
}
