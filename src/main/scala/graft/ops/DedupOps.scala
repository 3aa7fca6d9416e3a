package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard. Designed for 100 TB:
  * signatures are computed map-side with pure column expressions
  * (no UDFs, no shuffle), candidate generation shuffles only on
  * band-hash keys (tiny compared to the corpus), and no step ever
  * compares all pairs.
  */
object DedupOps {

  /** Exact dedup: group identical normalized content, keep the lowest
    * id as canonical. One hash-shuffle on a 32-byte key — the minimal
    * possible exact-dedup plan.
    */
  def exactDuplicates(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
        TextOps.normalizedFingerprint(col(textCol)).as("fingerprint"))
      .groupBy(col("fingerprint"))
      .agg(min(col(idCol)).as("canonical_id"),
        count(lit(1)).as("n_copies"))

  /** MinHash signature: k independent hash functions over word
    * 3-gram shingles, h_i(s) = md5(i + "|" + s), each position the
    * minimum over shingles. Engine-portable (md5) and computed
    * entirely map-side via higher-order array functions.
    */
  def minhashSignature(text: Column, k: Int, shingleSize: Int = 3): Column = {
    val sh = TextOps.shingles(text, shingleSize)
    transform(sequence(lit(0), lit(k - 1)),
      i => array_min(transform(sh, s => md5(concat(i.cast("string"), lit("|"), s)))))
  }

  /** LSH banding: split the k-length signature into b bands of r rows
    * (k = b*r); each band hashes to one bucket key. Docs sharing any
    * band bucket are candidate pairs — the standard S-curve
    * probability amplification.
    */
  def lshBandHashes(signature: Column, bands: Int, rows: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => md5(concat_ws("|",
        b.cast("string"),
        concat_ws("|", transform(slice(signature, b * rows + 1, lit(rows)),
          v => v.cast("string"))))))

  /** MinHash signatures as a table: (id, sig) — the scale shape.
    *
    * Computed by exploding shingles and taking k `min` aggregates,
    * NOT by one giant nested-transform expression: the scalar
    * [[minhashSignature]] column duplicates the shingle computation k
    * times inside a single projection (and optimizer rules like
    * CollapseProject re-inline it further), which measured 3 orders
    * of magnitude slower at sf0.1. The explode shape is plain
    * codegen'd hash aggregation: one md5 per (shingle, hash-function)
    * pair, partial-aggregated map-side, one shuffle on the id.
    */
  /** Mersenne prime modulus for the affine hash family. */
  val MinhashPrime: Long = 2147483647L

  /** (id, token array) computed MAP-SIDE above a round-robin text
    * exchange — the r14 adoption of q44's Shape-B finding
    * (DedupScaleProbe, SCALING round 14) applied family-wide: the
    * pre-r14 shape put the RAW TOKEN ARRAYS through a keyed exchange
    * so downstream per-doc aggregations were exchange-free, but that
    * exchange is an allocation-pressure GC lottery (q25's A variant:
    * 144 MB of shuffle and a 4.7s-GC cold mode at 30x vs this
    * shape's 15 MB; q44 measured the same mechanism at 148 MB →
    * bimodal 3.4–21.2s in r13). Here only the TEXT crosses the wire
    * (one string per doc — far lighter to deserialize than its token
    * array), tokens are computed where they're consumed, and the
    * per-doc signature aggregation's partial agg means its exchange
    * carries k longs per doc, never tokens.
    */
  private def tokenized(df: DataFrame, idCol: String, textCol: String): DataFrame =
    Parallelism.ensure(
        df.select(col(idCol).as("id"), col(textCol).as("_text")))
      .select(col("id"), TextOps.tokens(col("_text")).as("_t"))

  /** [[minhashSignatures]] over an already-tokenized (id, _t) frame. */
  def minhashSignaturesOfTokens(
      tok: DataFrame, k: Int, shingleSize: Int = 3): DataFrame = {
    val p = MinhashPrime
    // standard affine family over ONE base hash per shingle:
    // h_i(s) = (a_i * base(s) + b_i) mod p — one md5 per shingle
    // instead of k, then k cheap integer aggregates.
    val exploded = tok.select(col("id"),
        explode(TextOps.shinglesOfTokens(col("_t"), shingleSize)).as("s"))
      .select(col("id"),
        (conv(substring(md5(col("s")), 1, 8), 16, 10).cast("long") % p).as("base"))
    val aggs = (0 until k).map { i =>
      val a = ((2L * i + 1L) * 2654435761L) % p
      val b = (i.toLong * 40503L + 17L) % p
      min((col("base") * a + b) % p).as(s"_h$i")
    }
    exploded.groupBy(col("id"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("id"), array((0 until k).map(i => col(s"_h$i")): _*).as("sig"))
  }

  def minhashSignatures(
      df: DataFrame, idCol: String, textCol: String,
      k: Int, shingleSize: Int = 3): DataFrame =
    minhashSignaturesOfTokens(tokenized(df, idCol, textCol), k, shingleSize)

  /** Candidate near-duplicate pairs via MinHash LSH.
    * Shuffle cost: explode to (band-hash, id) — b rows per doc —
    * then a self-equi-join on the 32-byte bucket key. At 100 TB the
    * join keys are ~b×corpus-cardinality small strings; skewed
    * buckets (boilerplate text) are handled by AQE skew-join.
    */
  def lshCandidatePairs(
      df: DataFrame, idCol: String, textCol: String,
      bands: Int = 4, rows: Int = 4, shingleSize: Int = 3,
      maxBucket: Int = 0): DataFrame =
    lshCandidatePairsOfTokens(tokenized(df, idCol, textCol),
      bands, rows, shingleSize, maxBucket)

  /** [[lshCandidatePairs]] over an already-tokenized (id, _t) frame.
    * `failLimit` is the hot-bucket refusal threshold
    * ([[DefaultBucketFailLimit]]), injectable so the guard is
    * testable on a small corpus. */
  def lshCandidatePairsOfTokens(
      tok: DataFrame, bands: Int, rows: Int, shingleSize: Int,
      maxBucket: Int,
      failLimit: Int = DefaultBucketFailLimit): DataFrame = {
    val sigs = minhashSignaturesOfTokens(tok, bands * rows, shingleSize)
    val buckets = sigs.select(col("id"),
      explode(lshBandHashes(col("sig"), bands, rows)).as("bucket"))
    // pairs via grouped combination generation, NOT a self-join: one
    // aggregation instead of re-computing the signature subplan for
    // both join sides. maxBucket > 0 drops hotter buckets outright —
    // boilerplate-heavy corpora put thousands of docs in one bucket,
    // and a bucket of n docs emits n(n-1)/2 pairs; "too common to be
    // a meaningful near-dup signal" is the standard LSH escape hatch
    // and bounds both pair blowup and per-group collect state.
    pairsWithinGroups(buckets, col("bucket"), col("id"), maxBucket,
      "lshCandidatePairs", failLimit).distinct()
  }

  /** Hard per-bucket membership limit for the banded-LSH pair
    * emitters when no drop cap (`maxBucket`) is set: one bucket of c
    * members emits c·(c−1)/2 pairs, so 65,536 bounds any single
    * bucket's contribution at ~2.1×10⁹ — the [[graft.ops.SimilarityOps.DefaultPairBudget]]
    * discipline applied to the other place a corpus can silently go
    * quadratic (one boilerplate shingle bucket holding 1% of docs).
    * Enforced IN the plan (a `raise_error` branch on the collected
    * set's size — one comparison per bucket, no extra corpus pass),
    * so the refusal costs nothing until the day it saves the
    * cluster. Declared corpora have bucket maxima in the hundreds;
    * a corpus that trips this legitimately should either drop hot
    * buckets (`maxBucket` — "too common to be a meaningful near-dup
    * signal" is the standard LSH escape) or re-block with more
    * bands/rows.
    */
  val DefaultBucketFailLimit: Int = 65536

  /** Unordered id pairs within each group: group, collect the sorted
    * member set, emit its combinations (id_a < id_b). The collect is
    * bounded: with `maxGroup` > 0 hotter groups are DROPPED (LSH
    * drop-cap semantics); otherwise a group past
    * [[DefaultBucketFailLimit]] fails the job loudly with guidance —
    * never a silent quadratic pair stream or an unbounded per-group
    * collect buffer. `failLimit` exists so a spec can trip the guard
    * on a small corpus; production callers keep the default.
    */
  private def pairsWithinGroups(df: DataFrame, groupCol: Column,
      idCol: Column, maxGroup: Int = 0,
      op: String = "pairsWithinGroups",
      failLimit: Int = DefaultBucketFailLimit): DataFrame = {
    val guarded =
      if (maxGroup > 0) col("ids")
      else when(size(col("ids")) <= failLimit, col("ids"))
        .otherwise(raise_error(concat(
          lit(s"$op: a blocking bucket holds "), size(col("ids")),
          lit(s" members (> $failLimit) — its pair " +
            s"emission alone exceeds ~${failLimit.toLong * (failLimit - 1) / 2} " +
            "pairs; the corpus has a degenerate " +
            "hot bucket. Drop hot buckets (maxBucket) or re-block " +
            "with more bands/rows."))))
    df.groupBy(groupCol)
      .agg(sort_array(collect_set(idCol)).as("ids"))
      .where(size(col("ids")) > 1 &&
        (if (maxGroup > 0) size(col("ids")) <= maxGroup else lit(true)))
      .select(guarded.as("ids"))
      .select(explode(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + 2, size(col("ids"))),
          y => struct(x.as("id_a"), y.as("id_b"))))).as("ps"))
      .select(explode(col("ps")).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
  }

  /** Persisted MinHash-LSH dedup index — dedup-at-ingest against
    * HISTORY, the piece batch dedup (q44) cannot do: "is this new
    * document a near-dup of anything already ingested?" without
    * re-scanning the corpus. The store holds one row per (doc, band)
    * — the doc's full k-long signature plus its band bucket —
    * partitioned by band, TEXT-FREE: probes confirm on signature
    * agreement (the unbiased MinHash Jaccard estimate), so the index
    * is k longs per doc per band whatever the documents weigh. At
    * 100 TB that is the difference between a signatures-sized index
    * join and a corpus-sized one.
    *
    * Probe shape: new docs compute the same band buckets, join the
    * store on (band, bucket) — only colliding signatures ever meet —
    * and the estimate `|{i : sig_a[i] = sig_b[i]}| / k` gates at
    * `minEstJaccard`. [[ingestDedup]] closes the loop: probe, drop
    * hits, append the survivors' signatures, return the audit frame.
    */
  def writeLshStore(docs: DataFrame, idCol: String, textCol: String,
      path: String, bands: Int = 4, rows: Int = 4,
      shingleSize: Int = 3): Unit =
    lshStoreRows(docs, idCol, textCol, bands, rows, shingleSize)
      .write.partitionBy("band").mode("overwrite").parquet(path)

  /** Append more documents' signatures to an existing store. */
  def appendLshStore(docs: DataFrame, idCol: String, textCol: String,
      path: String, bands: Int = 4, rows: Int = 4,
      shingleSize: Int = 3): Unit =
    lshStoreRows(docs, idCol, textCol, bands, rows, shingleSize)
      .write.partitionBy("band").mode("append").parquet(path)

  private def lshStoreRows(docs: DataFrame, idCol: String,
      textCol: String, bands: Int, rows: Int,
      shingleSize: Int): DataFrame =
    minhashSignatures(docs, idCol, textCol, bands * rows, shingleSize)
      .select(col("id"), col("sig"),
        posexplode(lshBandHashes(col("sig"), bands, rows))
          .as(Seq("band", "bucket")))
      // range-cluster on (band, bucket) before the dynamic-partition
      // write (the stampedStore discipline, applied to a LOW-
      // cardinality partition key): hash-clustering on `band` alone
      // would collapse the write to `bands` tasks, so each task takes
      // one band's contiguous BUCKET range instead — files per band ≈
      // tasks/bands rather than tasks, still parallel, and the
      // within-file bucket sort gives parquet row-group min/max stats
      // the (band, bucket) probe join prunes with
      .repartitionByRange(col("band"), col("bucket"))
      .sortWithinPartitions(col("band"), col("bucket"))

  /** Fold the LSH store's append log into one file set per band —
    * the small-files counterpart of the ANN store's compaction:
    * every [[ingestDedup]] batch appends its own part files per band
    * partition, and after N batches a probe opens N files per band.
    * Rows are immutable (signatures of accepted docs — no
    * latest-wins to resolve), so compaction is a pure rewrite:
    * read, repartition by band, and the ANN stores' two-rename swap
    * ([[SimilarityOps.rewriteStore]]) with its crash recovery.
    */
  def compactLshStore(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit =
    SimilarityOps.rewriteStore(spark, path) { staging =>
      spark.read.parquet(path)
        .repartition(col("band"))
        .write.partitionBy("band").mode("overwrite").parquet(staging)
    }

  /** Probe the store with new documents: (new_id, store_id,
    * est_jaccard) for every stored near-dup at or above
    * `minEstJaccard`. Band/row/shingle parameters must match the
    * store's — they define the signature family. */
  def probeLshStore(spark: org.apache.spark.sql.SparkSession,
      path: String, docs: DataFrame, idCol: String, textCol: String,
      bands: Int = 4, rows: Int = 4, shingleSize: Int = 3,
      minEstJaccard: Double = 0.5): DataFrame = {
    val k = bands * rows
    val q = lshStoreRows(docs, idCol, textCol, bands, rows, shingleSize)
      .select(col("id").as("new_id"), col("sig").as("qsig"),
        col("band"), col("bucket"))
    val matchFrac = round(
      size(filter(zip_with(col("qsig"), col("sig"), (a, b) => a === b),
        x => x)).cast("double") / k, 6)
    q.join(spark.read.parquet(path), Seq("band", "bucket"))
      .where(col("new_id") =!= col("id"))
      .select(col("new_id"), col("id").as("store_id"),
        matchFrac.as("est_jaccard"))
      .where(col("est_jaccard") >= minEstJaccard)
      .distinct()
  }

  /** Dedup-at-ingest: probe, APPEND the novel documents' signatures,
    * and return every incoming doc flagged (`is_dup`, and the matched
    * store id when duplicate). Novelty is judged against the store as
    * it stood BEFORE this call — batch-internal near-dups are q44's
    * job, upstream. */
  def ingestDedup(spark: org.apache.spark.sql.SparkSession,
      path: String, docs: DataFrame, idCol: String, textCol: String,
      bands: Int = 4, rows: Int = 4, shingleSize: Int = 3,
      minEstJaccard: Double = 0.5): DataFrame = {
    val hits = probeLshStore(spark, path, docs, idCol, textCol,
        bands, rows, shingleSize, minEstJaccard)
      .groupBy(col("new_id"))
      .agg(max_by(col("store_id"), struct(col("est_jaccard"),
        -col("store_id"))).as("dup_of"))
    val flagged = docs.join(
        hits.withColumnRenamed("new_id", idCol), Seq(idCol), "left")
      .withColumn("is_dup", col("dup_of").isNotNull)
    appendLshStore(flagged.where(!col("is_dup"))
        .select(docs.columns.map(col): _*),
      idCol, textCol, path, bands, rows, shingleSize)
    flagged
  }

  /** Token-set Jaccard similarity between two text columns. */
  def jaccard(textA: Column, textB: Column): Column = {
    val ta = array_distinct(TextOps.tokens(textA))
    val tb = array_distinct(TextOps.tokens(textB))
    val inter = size(array_intersect(ta, tb)).cast("double")
    val union = size(array_union(ta, tb)).cast("double")
    when(union === 0, 0.0).otherwise(inter / union)
  }

  /** Full MinHash-LSH near-dup pipeline: candidates from banding,
    * verified by exact token Jaccard >= threshold. The join back to
    * text is by id — two broadcast-or-shuffle hash joins, never a
    * cross product.
    *
    * Plan shape (the q44 Shape-B restructure, adopted here from
    * DedupScaleProbe's r14 30x A/B — SCALING round 14): signatures
    * come from map-side tokens (their aggregation's exchange carries
    * k partial mins per doc) and the verify joins consume an
    * `array_distinct`-token keyed frame — all Jaccard needs — so no
    * exchange anywhere carries raw token arrays. The pre-r14 shape
    * shared ONE keyed raw-token exchange across the signature branch
    * and both verify joins: 301 MB of 30x shuffle vs this shape's
    * 140 MB, and a 4.5s GC-pressure worst mode vs 3.0s. Cost: the
    * text tokenizes twice (signature pass + verify pass) — map-side
    * CPU that scales embarrassingly.
    */
  def nearDuplicates(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.7, bands: Int = 4, rows: Int = 4): DataFrame = {
    val base = Parallelism.ensure(
      df.select(col(idCol).as("id"), col(textCol).as("_text")))
    val pairs = lshCandidatePairsOfTokens(
      base.select(col("id"), TextOps.tokens(col("_text")).as("_t")),
      bands, rows, 3, 0)
    val toks = Parallelism.ensureKeyed(
      base.select(col("id"),
        array_distinct(TextOps.tokens(col("_text"))).as("toks")),
      col("id"))
    verifyDistinctByJaccard(pairs, toks, threshold)
  }

  /** The exact token-Jaccard confirm over an already-distinct
    * (id, toks) frame — candidate pairs join it once per side. */
  private def verifyDistinctByJaccard(
      pairs: DataFrame, toks: DataFrame, threshold: Double): DataFrame = {
    val inter = size(array_intersect(col("toks_a"), col("toks_b"))).cast("double")
    val union = size(array_union(col("toks_a"), col("toks_b"))).cast("double")
    pairs
      .join(toks.select(col("id").as("id_a"), col("toks").as("toks_a")), "id_a")
      .join(toks.select(col("id").as("id_b"), col("toks").as("toks_b")), "id_b")
      .withColumn("jaccard",
        round(when(union === 0, 0.0).otherwise(inter / union), 6))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Candidate pairs from single-fingerprint blocking: documents
    * sharing their minimal shingle hash (winnowing collapsed to one
    * band — cheaper and stricter than MinHash LSH). One aggregation
    * on a 32-byte key; no verification, no join back to text — the
    * input to [[jaccardNearDuplicates]] (which verifies) and to
    * [[duplicateClusters]] (where an always-true verification filter
    * would only re-tokenize the corpus a second time for nothing).
    */
  def fingerprintCandidatePairs(
      df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3): DataFrame =
    fingerprintCandidatePairsOfTokens(tokenized(df, idCol, textCol), shingleSize)

  /** [[fingerprintCandidatePairs]] over an already-tokenized frame:
    * the md5-per-shingle fingerprint runs AFTER the guard's exchange —
    * otherwise it runs inside the scan's (possibly single) partition.
    */
  private def fingerprintCandidatePairsOfTokens(
      tok: DataFrame, shingleSize: Int): DataFrame = {
    val fp = tok.select(col("id"),
      TextOps.minShingleFingerprintOfTokens(col("_t"), shingleSize).as("fp"))
    pairsWithinGroups(fp, col("fp"), col("id"),
      op = "fingerprintCandidatePairs")
  }

  /** N-gram-Jaccard near-duplicates with single-fingerprint blocking
    * ([[fingerprintCandidatePairs]]), then exact token-Jaccard
    * verification. One aggregation on a 32-byte key plus two id hash
    * joins; no step is quadratic in the corpus.
    *
    * Plan shape (adopted from Q44ScaleProbe's 30x A/B, round 13): the
    * fingerprint is computed MAP-SIDE from the text — its groupBy(fp)
    * exchange carries only (id, 32-byte fp) — and the verify joins'
    * exchange carries `array_distinct` tokens (all Jaccard needs),
    * never the raw token arrays. The previous shape shared one keyed
    * exchange of RAW token arrays across all three consumers: 148 MB
    * of shuffle at 30x vs this shape's 43 MB, and the allocation
    * pressure of re-reading it made 30x timings a GC lottery (runs
    * 3.4–21.2s with up to 5.2s of measured GC per run; this shape
    * reads 5.0–8.4s with the same median — the wobble, not the
    * median, is what the restructure buys). Cost: the text is
    * tokenized twice (fp pass + verify pass), pure map-side CPU that
    * scales embarrassingly.
    */
  def jaccardNearDuplicates(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, shingleSize: Int = 3): DataFrame = {
    val base = Parallelism.ensure(
      df.select(col(idCol).as("id"), col(textCol).as("_text")))
    val fp = base.select(col("id"),
      TextOps.minShingleFingerprintOfTokens(
        TextOps.tokens(col("_text")), shingleSize).as("fp"))
    val pairs = pairsWithinGroups(fp, col("fp"), col("id"),
      op = "fingerprintCandidatePairs")
    val toks = Parallelism.ensureKeyed(
      base.select(col("id"),
        array_distinct(TextOps.tokens(col("_text"))).as("toks")),
      col("id"))
    verifyDistinctByJaccard(pairs, toks, threshold)
  }

  /** Test-set decontamination: drop corpus documents that share ANY
    * word `shingleSize`-gram with the evaluation set — the standard
    * n-gram overlap rule for keeping benchmarks out of training data
    * (production uses n≈13; the mechanism is n-independent).
    *
    * Shape at scale: the eval set is tiny next to the corpus, so its
    * distinct shingle hashes broadcast; the corpus side is then a
    * map-side semi probe (no corpus shuffle) followed by a left-anti
    * on the (small) contaminated-id set. Shingles compare by md5 —
    * fixed-width join keys instead of arbitrary-length strings.
    */
  private[ops] def shingleHashes(df: DataFrame, idCol: String,
      textCol: String, shingleSize: Int): DataFrame =
    TextOps.explodeShingles(
        Parallelism.ensure(df.select(col(idCol).as("id"),
          TextOps.tokens(col(textCol)).as("_t"))),
        col("_t"), shingleSize, "s")
      .select(col("id"), md5(col("s")).as("h"))

  def decontaminate(
      corpus: DataFrame, testSet: DataFrame,
      idCol: String, textCol: String, shingleSize: Int = 5): DataFrame = {
    val testShingles = broadcast(
      shingleHashes(testSet, idCol, textCol, shingleSize)
        .select(col("h")).distinct())
    val contaminated = shingleHashes(corpus, idCol, textCol, shingleSize)
      .join(testShingles, "h")
      .select(col("id").as(idCol)).distinct()
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /** [[decontaminate]] for the regime where the eval set is too big
    * to broadcast (a full benchmark union can be billions of
    * shingles): the corpus side probes a BLOOM of the eval shingle
    * hashes first — a driver-held bitset of `numBits/8` bytes
    * whatever the eval-set size, tested map-side inside codegen at
    * the scan — so the exact-confirm SHUFFLE join carries only
    * bloom-candidate shingles (true hits + the false-positive tail)
    * instead of the whole corpus's shingle stream. False positives
    * are harmless: the exact join decides membership, and the result
    * is row-identical to [[decontaminate]] (q51 and q162 share one
    * oracle).
    */
  def decontaminateBloomed(
      corpus: DataFrame, testSet: DataFrame,
      idCol: String, textCol: String, shingleSize: Int = 5,
      numBits: Int = 1 << 20, numHashes: Int = 5): DataFrame = {
    val testShingles = shingleHashes(testSet, idCol, textCol, shingleSize)
      .select(col("h")).distinct()
    // the bloom build skips the distinct exchange: bit-OR insertion is
    // duplicate-insensitive, so the raw shingle stream folds straight
    // into map-side partial bitsets
    val words = SketchOps.bloomFilterOf(
      shingleHashes(testSet, idCol, textCol, shingleSize), "h",
      numBits, numHashes)
    val contaminated = shingleHashes(corpus, idCol, textCol, shingleSize)
      .where(SketchOps.bloomMightContain(words, numHashes,
        xxhash64(col("h"))))
      .join(testShingles, "h")
      .select(col("id").as(idCol)).distinct()
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Duplicate clusters from a near-dup pair list: connected
    * components with the component's minimum doc id as the cluster
    * id — the step that turns pairwise "A≈B" into "keep one canonical
    * doc per cluster".
    *
    * Min-label propagation: every node starts labeled with itself;
    * each round a node takes the minimum label among itself and its
    * neighbors; fixpoint = component minimum. Each round is one join
    * + one aggregation (both on the node id), and the number of
    * rounds is bounded by the largest component's diameter — near-dup
    * graphs are unions of small dense cliques, so this converges in
    * 2-3 rounds in practice (`maxIterations` guards pathological
    * chains). Pointer jumping (label <- label(label), an extra n-row
    * self-join per round for O(log diameter) rounds) was measured
    * 30% SLOWER here (4.1s vs 3.2s, sf0.1): with clique-shaped
    * components the round count is already minimal, so the extra join
    * is pure overhead — reach for it (or large-star/small-star) only
    * if components ever become long chains. The only driver-side data
    * is the one-row convergence check per round.
    */
  /** Nodes-per-round threshold below which the label table joins by
    * broadcast instead of shuffle. 4M (id, label) longs ≈ 64 MB —
    * comfortably under executor broadcast limits; above it the loop
    * falls back to a co-partitioned shuffle join, the 100 TB path.
    */
  private val BroadcastLabelLimit = 4_000_000L

  /** Free the block-manager storage behind a `localCheckpoint`ed
    * frame NOW. `Dataset.unpersist` is a no-op for checkpoints (it
    * only clears the SQL cache; the blocks belong to the checkpoint
    * RDD), so superseded round states otherwise linger until the
    * async ContextCleaner gets to them — whose cleanup storms land in
    * whatever query the bench times next.
    */
  private def freeLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  def duplicateClusters(pairs: DataFrame, maxIterations: Int = 20): DataFrame = {
    // Both edge directions from ONE pass over pairs (a union of two
    // selects would evaluate the upstream pair pipeline twice), cached
    // partitioned BY src so every round's neighbor aggregation —
    // groupBy(src) over a broadcast join that preserves the cache's
    // partitioning — needs no exchange.
    val edges = pairs.select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct().repartition(col("src")).cache()
    // Round 1 fused into initialization: label = min(self ∪ neighbors)
    // is a single src-partitioned aggregation over the edge cache — no
    // identity-label join. localCheckpoint (lazy) truncates lineage and
    // materializes inside the count, which doubles as the node-count
    // probe that decides broadcast-vs-shuffle for later rounds.
    var labels = edges.groupBy(col("src")).agg(min(col("dst")).as("_m"))
      .select(col("src").as("id"), least(col("src"), col("_m")).as("label"))
      .localCheckpoint(false)
    val nodes = labels.count()
    var persisted = labels
    var converged = false
    var i = 1
    while (!converged && i < maxIterations) {
      // One job per round. Small graphs (node table under
      // BroadcastLabelLimit) run the whole round in a single map-side
      // stage over the src-partitioned edge cache: broadcast label
      // join, exchange-free groupBy(src), then a co-partitioned join
      // back to the previous labels (both sides hash-partitioned on
      // the node id — the groupBy output directly, the label side via
      // the partitioning localCheckpoint preserves). Large graphs use
      // the same plan with shuffle joins — still one exchange of
      // edge-sized data per round.
      val lbl = if (nodes <= BroadcastLabelLimit) broadcast(labels) else labels
      val viaNeighbors = edges.join(lbl, edges("dst") === lbl("id"))
        .groupBy(edges("src")).agg(min(col("label")).as("_nbr"))
      val next = labels.join(viaNeighbors, labels("id") === viaNeighbors("src"))
        .select(labels("id"), least(col("label"), col("_nbr")).as("label"),
          col("label").as("_old"))
        .localCheckpoint(false)
      // the same action materializes the round and reads the
      // convergence probe — no second job
      val changed = next.where(col("label") < col("_old")).limit(1).count()
      freeLocalCheckpoint(persisted) // superseded: next is materialized now
      persisted = next
      labels = next.select(col("id"), col("label"))
      converged = changed == 0
      i += 1
    }
    edges.unpersist()
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
  }

  /** Incremental re-clustering: fold a previous run's label table in
    * as edges (member → cluster id is a star over each old component,
    * so connectivity — and therefore the min-id labels — match a full
    * recompute over old ∪ new pairs) and propagate only the new pair
    * list. At 100 TB this is the daily-delta shape: the day's
    * candidate pairs plus yesterday's (much smaller) label table,
    * instead of re-shingling the whole corpus.
    */
  def duplicateClustersIncremental(
      previousLabels: DataFrame, newPairs: DataFrame,
      maxIterations: Int = 20): DataFrame = {
    val prevEdges = previousLabels
      .where(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("id_a"), col("cluster_id").as("id_b"))
    duplicateClusters(
      newPairs.select(col("id_a"), col("id_b")).unionByName(prevEdges),
      maxIterations)
  }

  /** Prefix-containment pairs: documents where one's normalized text
    * is a prefix of the other's (truncation dups, partial re-crawls,
    * and exact copies — which are mutual prefixes). Candidates block
    * on the first `prefixTokens` tokens, so only docs sharing that
    * prefix ever meet: one equi-join on a short string key, never a
    * cross product; docs shorter than the blocking prefix are out of
    * scope by construction (they'd need a weaker blocking key).
    * Verification is a plain `startswith` on the candidate pair.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      prefixTokens: Int = 8,
      failLimit: Int = DefaultBucketFailLimit): DataFrame = {
    val toks = TextOps.tokens(col(textCol))
    val norm = concat_ws(" ", toks)
    val docs = df.select(col(idCol).as("id"), norm.as("text_n"),
        concat_ws(" ", slice(toks, 1, prefixTokens)).as("_pfx"),
        size(toks).as("_ntok"))
      .where(col("_ntok") >= prefixTokens)
    // same hot-bucket refusal as the LSH emitters: a boilerplate
    // prefix shared by c docs makes the equi-join emit ~c²/2 pairs —
    // gate one side with a windowed group count (the count's
    // exchange+sort on _pfx is exactly what the sort-merge join
    // needs, so the guard adds no extra shuffle)
    val wPfx = org.apache.spark.sql.expressions.Window.partitionBy(col("_pfx"))
    val aGated = docs
      .withColumn("_c", count(lit(1)).over(wPfx))
      .withColumn("_pfx",
        when(col("_c") <= failLimit, col("_pfx"))
          .otherwise(raise_error(concat(
            lit("containmentPairs: a blocking prefix is shared by "),
            col("_c"),
            lit(s" docs (> $failLimit) — the prefix join " +
              "would go quadratic. Lengthen prefixTokens or strip " +
              "boilerplate first.")))))
    val a = aGated.select(col("id").as("id_a"), col("text_n").as("_ta"), col("_pfx"))
    val b = docs.select(col("id").as("id_b"), col("text_n").as("_tb"), col("_pfx"))
    a.join(b, "_pfx")
      .where(col("id_a") < col("id_b"))
      .withColumn("relation",
        when(col("_ta") === col("_tb"), "equal")
          .when(col("_tb").startsWith(col("_ta")), "a_prefix_of_b")
          .when(col("_ta").startsWith(col("_tb")), "b_prefix_of_a"))
      .where(col("relation").isNotNull)
      .select(col("id_a"), col("id_b"), col("relation"))
  }

  /** SimHash: a single locality-sensitive integer per document.
    * Each token votes ±1 per bit position of its 32-bit md5-derived
    * hash; the sign pattern packs into one long. Near-dups differ in
    * few bits (Hamming distance). Pure map-side column expressions —
    * no explode, no shuffle; the per-token hash is computed once and
    * reused across all 32 bit positions.
    */
  def simhash(text: Column, bits: Int = 32): Column = {
    val hashes = transform(array_distinct(TextOps.tokens(text)),
      t => conv(substring(md5(t), 1, 8), 16, 10).cast("long"))
    val bitCols = transform(sequence(lit(0), lit(bits - 1)), j => {
      // shift-by-column via exact double pow (values < 2^32 << 2^53)
      val bitOfH = (h: Column) =>
        pmod(floor(h.cast("double") / pow(lit(2.0), j.cast("double"))).cast("long"), lit(2L))
      val vote = aggregate(hashes, lit(0L),
        (acc, h) => acc + when(bitOfH(h) === 1, 1L).otherwise(-1L))
      when(vote >= 0, pow(lit(2.0), j.cast("double")).cast("long")).otherwise(lit(0L))
    })
    aggregate(bitCols, lit(0L), (acc, b) => acc + b)
  }

  /** [[simhash]] as a table: (id, simhash) — the corpus-scale shape.
    * Identical semantics (distinct tokens, md5-prefix hash, per-bit
    * majority vote with ties set), but computed by exploding token
    * hashes and taking `bits` codegen'd sum aggregates instead of the
    * scalar's interpreted per-bit HOF folds — 9.4s → ~1s at sf0.1.
    * One shuffle on the id; empty-token docs keep the scalar's
    * all-bits-set value via explode_outer + zero votes.
    */
  def simhashTable(df: DataFrame, idCol: String, textCol: String,
      bits: Int = 32): DataFrame = {
    val tok = df
      .select(col(idCol).as("id"),
        explode_outer(array_distinct(TextOps.tokens(col(textCol)))).as("tok"))
      .select(col("id"),
        conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long").as("h"))
    val votes = (0 until bits).map { j =>
      sum(when(col("h").isNull, 0L)
        .when(shiftright(col("h"), j).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)).as(s"_v$j")
    }
    tok.groupBy(col("id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("id"),
        (0 until bits).map(j =>
          when(col(s"_v$j") >= 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }
}
