package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType,
  ShortType}

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * Two paths:
  * - brute-force cosine top-k: exact, one pass, map-side score +
  *   TakeOrderedAndProject — the correct baseline and fine whenever
  *   k × candidates fits a single reduce.
  * - sign-random-projection LSH buckets: the scale path — scoring
  *   only within matching buckets turns a 100 TB full scan per query
  *   into a bucket-pruned probe. Hyperplanes are md5-derived and
  *   deterministic, so bucket assignment is reproducible anywhere.
  */
object SimilarityOps {

  /** Collected vector cell -> Seq[Float], accepting float OR double
    * array columns (the whole expression family takes both; a
    * float-only getSeq would ClassCastException on array<double>
    * embeddings at the first driver collect). Double seeds truncate
    * to float — blocking centroids, not query results. */
  private def floatSeq(r: org.apache.spark.sql.Row, i: Int): Seq[Float] =
    r.getSeq[Number](i).map(_.floatValue).toSeq


  /** Dot product of two float-array columns, accumulated in double
    * in element order (deterministic). Native codegen'd expression
    * (graft.functions.VectorDot); [[foldDot]] is the
    * composition-only twin with identical semantics.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dot(a, b)

  /** Higher-order-function formulation of [[dot]] — kept as the
    * executable specification the native expression is tested
    * against, and as the fallback if the engine ever runs where
    * custom expressions can't be injected (e.g. Spark Connect
    * clients). */
  def foldDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity in [-1, 1]; 0 when either vector is zero.
    * Single-pass native expression (graft.functions.VectorCosine). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.cosine(a, b)

  /** Composition-only twin of [[cosine]] (see [[foldDot]]). */
  def foldCosine(a: Column, b: Column): Column = {
    val denom = sqrt(foldDot(a, a)) * sqrt(foldDot(b, b))
    when(denom === 0, 0.0).otherwise(foldDot(a, b) / denom)
  }

  /** Brute-force cosine top-k against one query vector. The query
    * vector is a literal baked into the plan (broadcast-equivalent);
    * scoring is map-side; Spark plans TakeOrderedAndProject so only
    * k rows per partition reach the driver.
    */
  def cosineTopK(
      embeddings: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], k: Int): DataFrame = {
    val q = lit(query.toArray)
    Parallelism.ensure(embeddings.select(col(idCol), col(vecCol)))
      .select(col(idCol),
        round(cosine(col(vecCol), q), 6).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** Brute-force Euclidean (L2) top-k against one query vector —
    * the distance family for unnormalized embeddings where magnitude
    * carries signal. Computed via the polarization identity
    * d² = <v,v> − 2<v,q> + <q,q> so all three terms run through the
    * native codegen'd dot product (the direct sum-of-squared-diffs
    * form would be an interpreted zip_with fold), and the oracle can
    * reproduce the exact double arithmetic term for term. Map-side
    * scoring, TakeOrderedAndProject — same zero-shuffle shape as
    * [[cosineTopK]].
    */
  def l2TopK(
      embeddings: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], k: Int): DataFrame = {
    val q = lit(query.toArray)
    val v = col(vecCol)
    val d2 = dot(v, v) - lit(2.0) * dot(v, q) + dot(q, q)
    Parallelism.ensure(embeddings.select(col(idCol), v))
      .select(col(idCol),
        round(sqrt(greatest(d2, lit(0.0))), 6).as("l2"))
      .orderBy(col("l2").asc, col(idCol))
      .limit(k)
  }

  /** Deterministic hyperplane component: md5("plane<p>|<d>") first 8
    * hex chars as uint32, scaled to [-1, 1) — identical math to the
    * oracle SQL, but evaluated ONCE driver-side: the hyperplane
    * matrix is a (planes × dims) constant, so it bakes into the plan
    * as literal arrays instead of 8×64 md5 calls per row (which
    * measured ~5s for 2k vectors at sf0.1; literals run in ~1 map
    * pass).
    */
  private[graft] def srpWeight(p: Int, d: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"plane$p|$d".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 8)
    (java.lang.Long.parseLong(hex, 16).toDouble / math.pow(2, 31)) - 1.0
  }

  /** Sign-random-projection bucket id: one bit per hyperplane =
    * sign of the projection; packs to a long. Vectors in the same
    * bucket are likely neighbors (cosine LSH).
    *
    * ONE native expression ([[graft.functions.VectorSrpBucket]]):
    * the hyperplane matrix travels in the codegen references array,
    * so the generated method's size is constant in `planes`. The
    * composed per-plane spelling ([[foldSrpBucket]], the executable
    * spec) inlines planes×dims literal doubles — fine at the fixed
    * planes=8, but at the count-derived width
    * ([[selfScalingPlanes]]) it grows with the corpus and falls into
    * the slow-JIT mode the argmax family already documented
    * (measured: q199 at 10x/planes=15 read ~3.1s converged-warm in
    * the sweep vs 0.7s once compiled).
    *
    * @param dims embedding dimensionality (the hyperplane matrix is
    *             built at plan time, so the width must be known)
    */
  def srpBucket(vec: Column, planes: Int, dims: Int): Column =
    graft.functions.VectorExpressions.srpBucket(vec,
      (0 until planes).map(p => (0 until dims).map(srpWeight(p, _))))

  /** Composition-only twin of [[srpBucket]] (the [[foldDot]]
    * convention): kept as the executable specification the native
    * expression is spec-tested against. */
  def foldSrpBucket(vec: Column, planes: Int, dims: Int): Column = {
    val bits = (0 until planes).map { p =>
      val w = lit((0 until dims).map(srpWeight(p, _)).toArray)
      val proj = dot(vec, w)
      when(proj >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Driver-side bucket of one query vector (same math). */
  def srpBucketOf(query: Seq[Float], planes: Int): Long =
    (0 until planes).map { p =>
      val proj = query.zipWithIndex
        .map { case (v, d) => v.toDouble * srpWeight(p, d) }.sum
      if (proj >= 0) 1L << p else 0L
    }.sum

  /** ANN top-k via SRP-LSH: score only rows whose bucket matches the
    * query's bucket (multi-probe: optionally also buckets at Hamming
    * distance 1). Falls back to fewer results when the bucket is
    * small — recall/cost is tuned by `planes` and `probe`.
    *
    * RETRIEVAL consumers should prefer the single-level IVF surface
    * at the declared operating point ([[ivfTopK]] /
    * [[ivfTopKPartitioned]] at [[retrievalNprobe]]): the round-13
    * ProbeSweep measured it dominating at every recall ≥ 0.5. The
    * SRP family's declared role is dedup/blocking
    * ([[bucketedNeighborPairsAuto]]) where hash-bucket equality, not
    * ranked recall, is the contract.
    */
  def annTopK(
      embeddings: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], k: Int, planes: Int = 8, probe: Int = 1): DataFrame = {
    val q = lit(query.toArray)
    val qBucket = srpBucketOf(query, planes)
    val probed: Seq[Long] =
      if (probe <= 0) Seq(qBucket)
      else qBucket +: (0 until planes).map(j => qBucket ^ (1L << j))
    Parallelism.ensure(embeddings.select(col(idCol), col(vecCol)))
      .withColumn("_bucket", srpBucket(col(vecCol), planes, query.length))
      .where(col("_bucket").isin(probed: _*))
      .select(col(idCol), round(cosine(col(vecCol), q), 6).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** IVF (inverted-file) coarse quantization: assign each vector to
    * its nearest centroid; search probes only the `nprobe` nearest
    * cells. Centroids come from the caller (k-means, or any sampled
    * seed set) and bake into the plan as literals — like the SRP
    * hyperplanes, assignment is a pure map-side expression, so the
    * cell id can be materialised as a partition column and a probe
    * prunes partitions before reading any vectors.
    *
    * Computed as argmax of dot(vec, ĉᵢ) against DRIVER-NORMALIZED
    * double centroids — the same cell as argmax cosine (‖vec‖ is a
    * shared positive scale across i; a zero centroid normalizes to
    * itself, scoring 0 like the cosine guard), at one array
    * traversal per centroid instead of three, through the ONE-
    * expression native argmax ([[graft.functions.VectorArgmaxDot]]):
    * k inlined per-centroid expressions emit O(k·d) bytecode that
    * falls off the JIT at k ≈ √n and runs ~1000× slow interpreted —
    * the matrix must ride the codegen references array, not the
    * expression tree.
    */
  /** Driver-side prenormalization shared by [[ivfAssign]] and the
    * probe-side rankers ([[ivfCellOf]], [[annRecall]]'s probe cells):
    * ĉ = c/‖c‖ in doubles, a zero centroid normalizing to itself.
    * One definition so data-side and probe-side assignment use the
    * SAME arithmetic — dot(v, ĉ) — and can only disagree where the
    * underlying ranks genuinely tie. Parity with a trained
    * (non-one-hot) centroid set is up-to-ulps of this arithmetic,
    * not by construction against a cosine formulation.
    */
  private def unitCentroids(centroids: Seq[Seq[Float]]): Seq[Seq[Double]] =
    centroids.map { c =>
      val n = math.sqrt(c.map(x => x.toDouble * x.toDouble).sum)
      if (n == 0) c.map(_.toDouble) else c.map(_.toDouble / n)
    }

  def ivfAssign(vec: Column, centroids: Seq[Seq[Float]]): Column =
    graft.functions.VectorExpressions.argmaxDot(vec, unitCentroids(centroids))

  /** Recall@k of the IVF probe path against the exact scan, per
    * query — the measurement that tunes (centroids, nprobe) before
    * anyone trusts an ANN store. For each query: the exact cosine
    * top-k over the whole corpus, the top-k restricted to the query's
    * `nprobe` nearest cells (exactly [[ivfTopK]]'s candidate rule),
    * and `recall = |exact ∩ probed| / k`.
    *
    * One corpus pass: every (query, vector) pair is scored ONCE
    * (query side broadcast — a recall evaluation runs on a bounded
    * query sample, never the corpus against itself), the probe-side
    * membership is a map-side array_contains on the pair, and both
    * rankings come from the same qid-keyed exchange. Ranking uses the
    * 6-dp rounded cosine with id tie-break, so ranks — and therefore
    * the recall numbers — are engine-exact.
    */
  /** The single-level IVF surface expressed in the probe family's
    * COMMON SHAPE — (id, vec, cell, probe_cells) — so the one pair of
    * evaluators ([[cellRecallProbe]], [[probePairCost]]) measures the
    * single-level store and the two-level family on identical terms.
    * `cell` is the [[ivfAssign]] argmax (probe_cells[0] = cell: the
    * native top-n's slot 0 shares argmax's first-max tie rule), the
    * probe set is the row's `nprobe` nearest centroids by the same
    * prenormalized dot — exactly [[annRecall]]'s candidate rule, so
    * `cellRecallProbe(ivfProbe(...))` reproduces [[annRecall]]'s
    * numbers (spec-pinned). Degenerate rows (null vec / null element
    * / empty centroid set) carry the family's sentinel (cell = −1,
    * probe_cells = [−1]) — never dropped, never junk-ranked.
    *
    * One map-side native expression over the corpus: no shuffle, no
    * join — the probe assignment costs one scan at any corpus size.
    */
  def ivfProbe(embeddings: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Seq[Float]], nprobe: Int): DataFrame = {
    require(nprobe > 0, "ivfProbe: nprobe must be positive")
    val base = Parallelism.ensure(
      embeddings.select(col(idCol).as("id"), col(vecCol).as("vec")))
    val unit = unitCentroids(centroids)
    if (unit.isEmpty)
      return base.select(col("id"), col("vec"), lit(-1L).as("cell"),
        array(lit(-1L)).as("probe_cells"))
    base.withColumn("_top",
        graft.functions.VectorExpressions.topDot(col("vec"), unit, nprobe))
      .select(col("id"), col("vec"),
        when(size(col("_top")) === 0, lit(-1L))
          .otherwise(element_at(col("_top"), 1).cast("long")).as("cell"),
        when(size(col("_top")) === 0, array(lit(-1L)))
          .otherwise(transform(col("_top"), c => c.cast("long")))
          .as("probe_cells"))
  }

  def annRecall(embeddings: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      centroids: Seq[Seq[Float]], k: Int, nprobe: Int = 2): DataFrame = {
    require(k > 0 && nprobe > 0, "annRecall: k and nprobe must be positive")
    val corpus = Parallelism.ensure(
        embeddings.select(col(idCol), col(vecCol)))
      .withColumn("_cell", ivfAssign(col(vecCol), centroids))
    // per-query probe set as one expression: (-dot(q, ĉ), cell)
    // structs sort ascending = score descending with lower-cell
    // tie-break — the columnar twin of ivfCellOf's driver-side
    // ranking, in the SAME prenormalized-dot arithmetic as ivfAssign
    // (a cosine here could diverge from the data side by ulps on
    // near-tie assignments under trained centroids)
    val unit = unitCentroids(centroids)
    val probeCells = transform(
      slice(sort_array(array(unit.zipWithIndex.map { case (c, i) =>
        struct((-dot(col(qvecCol), lit(c.toArray))).as("ns"),
          lit(i).as("c"))
      }: _*)), 1, nprobe),
      x => x.getField("c"))
    val qside = broadcast(queries.select(col(qidCol).as("_qid"),
      col(qvecCol).as("_qv"), probeCells.as("_probe")))
    val pairs = corpus.crossJoin(qside)
      .select(col("_qid"), col(idCol),
        round(cosine(col(vecCol), col("_qv")), 6).as("_cos"),
        array_contains(col("_probe"), col("_cell")).as("_probed"))
    recallFromPairs(pairs, idCol, k)
  }

  /** Shared recall tail: given scored (query, candidate) pairs with a
    * `_probed` membership flag, rank exact vs probed top-k from the
    * SAME qid-keyed exchange and emit (qid, n_hits, recall). Rounded
    * cosine + id tie-break keeps ranks engine-exact (the q187 oracle
    * discipline).
    *
    * ONE window pass over ONE evaluation of `pairs` (r16): the probed
    * rank of a probed row equals the running count of probed rows in
    * the same (cos DESC, id) order, so both rankings come from a
    * single sort — the previous spelling ranked `pairs` twice (two
    * branches of a self-join, each re-evaluating the upstream
    * crossJoin + cosine scoring) and joined the top-k sets back
    * together. n_hits = |exact top-k ∩ probed top-k| =
    * count(rows with exact rank ≤ k that are probed with probed rank
    * ≤ k) — identical by definition, at half the pair-scoring cost
    * and one exchange + one join fewer. */
  private def recallFromPairs(pairs: DataFrame, idCol: String,
      k: Int): DataFrame = {
    val byQ = org.apache.spark.sql.expressions.Window.partitionBy(col("_qid"))
      .orderBy(col("_cos").desc, col(idCol))
    // row_number's implicit frame is ROWS UNBOUNDED PRECEDING..CURRENT
    // ROW — spelling the running probed-count over the same frame puts
    // both functions in one Window operator over one sort
    val runFrame = byQ.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.currentRow)
    pairs
      .withColumn("_r", row_number().over(byQ))
      .withColumn("_pr",
        sum(when(col("_probed"), 1L).otherwise(0L)).over(runFrame))
      .groupBy(col("_qid").as("qid"))
      .agg(count(when(col("_r") <= k && col("_probed") && col("_pr") <= k,
        lit(1))).as("n_hits"))
      .select(col("qid"), col("n_hits"),
        round(col("n_hits").cast("double") / k, 6).as("recall"))
  }

  /** Recall@k of CELL-BLOCKED candidate generation against the exact
    * scan — [[annRecall]]'s measurement applied to any assignment
    * that tags rows with a cell column ([[twoLevelAssign]], a
    * materialized [[ivfAssign]]). The probe set is the query's OWN
    * cell: exactly the candidate rule of the blocked self-join family
    * (semDedup / knnJoin / contrastivePairs, both levels), so this
    * measures the
    * recall those operators trade when the blocking (or its
    * `oversample` dial) moves — the number TwoLevelProbe's pair
    * counts could only proxy. Queries are the corpus rows matching
    * `queryPred` (a recall evaluation runs on a bounded sample,
    * broadcast against the corpus — one pass, every pair scored
    * once). */
  def cellRecall(assigned: DataFrame, idCol: String, vecCol: String,
      cellCol: String, queryPred: Column, k: Int): DataFrame = {
    require(k > 0, "cellRecall: k must be positive")
    // the assignment feeds BOTH sides (corpus scan + the broadcast
    // query sample), so pin it once — the family's semDedupTwoLevel
    // convention — instead of recomputing the whole assignment
    // subplan (window + broadcast join) per consumer
    val corpus = Parallelism.ensure(
      assigned.select(col(idCol), col(vecCol), col(cellCol)))
      .localCheckpoint()
    val qside = broadcast(corpus.where(queryPred)
      .select(col(idCol).as("_qid"), col(vecCol).as("_qv"),
        col(cellCol).as("_qcell")))
    val pairs = corpus.crossJoin(qside)
      .select(col("_qid"), col(idCol),
        round(cosine(col(vecCol), col("_qv")), 6).as("_cos"),
        (col(cellCol) === col("_qcell")).as("_probed"))
    recallFromPairs(pairs, idCol, k)
  }

  /** [[cellRecall]] for a MULTI-PROBE candidate rule: the query's
    * candidates are corpus rows in ANY of its `probeCol` cells (the
    * [[twoLevelProbe]] probe set), so this measures the recall the
    * `nprobe` dial buys back — at nprobe=1 it equals [[cellRecall]]
    * on the same assignment exactly (probe_cells[0] is the own cell).
    * Same one-pass shape: assignment pinned once for both consumers,
    * bounded query sample broadcast, probe membership a map-side
    * array_contains on the scored pair. */
  def cellRecallProbe(assigned: DataFrame, idCol: String, vecCol: String,
      cellCol: String, probeCol: String, queryPred: Column,
      k: Int): DataFrame = {
    require(k > 0, "cellRecallProbe: k must be positive")
    val corpus = Parallelism.ensure(
      assigned.select(col(idCol), col(vecCol), col(cellCol), col(probeCol)))
      .localCheckpoint()
    val qside = broadcast(corpus.where(queryPred)
      .select(col(idCol).as("_qid"), col(vecCol).as("_qv"),
        col(probeCol).as("_qprobe")))
    val pairs = corpus.crossJoin(qside)
      .select(col("_qid"), col(idCol),
        round(cosine(col(vecCol), col("_qv")), 6).as("_cos"),
        array_contains(col("_qprobe"), col(cellCol)).as("_probed"))
    recallFromPairs(pairs, idCol, k)
  }

  /** The pair-COST side of the multi-probe curve: the candidate-pair
    * count the probe rule implies — Σ over cells of (rows probing the
    * cell) × (rows assigned to it) — from two cheap aggregations over
    * the assignment, no pair is ever materialized. This is the number
    * [[requireProbePairBudget]] enforces and the denominator a caller
    * trades against [[cellRecallProbe]]'s recall when choosing
    * `nprobe`. Counts ordered (prober, owner) pairs including the
    * self pair each row contributes to its own cell — a stable
    * definition the SQL oracle mirrors closed-form. One row:
    * (n_cells, pairs). */
  def probePairCost(assigned: DataFrame, cellCol: String,
      probeCol: String): DataFrame = {
    val probes = assigned.select(explode(col(probeCol)).as("_cell"))
      .groupBy(col("_cell")).agg(count(lit(1)).as("_p"))
    val owners = assigned.select(col(cellCol).as("_cell"))
      .groupBy(col("_cell")).agg(count(lit(1)).as("_c"))
    owners.join(probes, Seq("_cell"))
      .agg(count(lit(1)).as("n_cells"),
        sum(col("_p").cast("decimal(38,0)") * col("_c").cast("decimal(38,0)"))
          .cast("decimal(38,0)").as("pairs"))
  }

  /** [[probePairCost]] for a FAMILY of prefix dials in one pass —
    * the q194 shape: the np-dial probe set is slice(probeCol, 1, np)
    * of one maximal assignment, so every dial's (n_cells, pairs) can
    * be read from a single posexplode + one per-cell aggregation with
    * a conditional count per dial, instead of re-running the full
    * two-aggregation + join pipeline once per dial.
    *
    * PRECONDITION (the [[twoLevelProbe]]/[[ivfProbe]] ranking
    * contract, documented on both): probeCol[0] == cellCol for every
    * row — then owners(cell) equals the pos-0 probe count and the
    * separate owner aggregation + join disappear. Per dial:
    * pairs = Σ_cell probers_np(cell)·owners(cell) (cells without
    * owners contribute zero — exactly the inner join's row set) and
    * n_cells counts cells with both owners and np-probers, matching
    * [[probePairCost]] term for term. Output: one (nprobe, n_cells,
    * pairs) row per dial, pairs in the same decimal(38,0) arithmetic.
    */
  def probePairCostPrefix(assigned: DataFrame, cellCol: String,
      probeCol: String, dials: Seq[Int]): DataFrame = {
    require(dials.nonEmpty && dials.forall(_ > 0),
      "probePairCostPrefix: dials must be positive")
    val perCell = assigned
      .select(posexplode(col(probeCol)).as(Seq("_pos", "_cell")))
      .groupBy(col("_cell"))
      .agg(count(when(col("_pos") === 0, lit(1))).as("_own"),
        dials.map(np =>
          count(when(col("_pos") < np, lit(1))).as(s"_p$np")): _*)
    val measures = dials.flatMap { np =>
      Seq(
        count(when(col("_own") > 0 && col(s"_p$np") > 0, lit(1)))
          .as(s"_nc$np"),
        sum(col(s"_p$np").cast("decimal(38,0)") *
            col("_own").cast("decimal(38,0)"))
          .cast("decimal(38,0)").as(s"_pair$np"))
    }
    val one = perCell.agg(measures.head, measures.tail: _*)
    val stackArgs = dials
      .map(np => s"$np, _nc$np, _pair$np").mkString(", ")
    one.select(expr(
      s"stack(${dials.size}, $stackArgs) as (nprobe, n_cells, pairs)"))
  }

  /** Flat argmax over score expressions: each score is evaluated
    * exactly once, then `array_position(scores, array_max(scores))`
    * picks the winner (ties to the lower index, -1 when every score
    * is null). The naive `when(s === greatest(...))` chain embeds the
    * k-way greatest under every branch — an O(k²) expression tree
    * whose codegen dominated PQ training wall-clock at k=16.
    */
  private def argmax(scores: Seq[Column]): Column = {
    val arr = array(scores: _*)
    coalesce((array_position(arr, array_max(arr)) - 1).cast("int"), lit(-1))
  }

  /** Driver-side twin of [[ivfAssign]] for the query vector: ranks
    * cells by dot(q, ĉ) over the SAME [[unitCentroids]] prenorm and
    * the same left-to-right double accumulation as the data side —
    * rank-identical to a cosine ranking in real arithmetic (‖q‖ is a
    * shared positive scale) and bit-identical to ivfAssign's scores,
    * so probe- and data-side assignment cannot diverge on near-ties.
    * Stable sort ⇒ ties go to the lower cell id, like argmaxDot.
    */
  def ivfCellOf(query: Seq[Float], centroids: Seq[Seq[Float]]): Seq[Int] = {
    val unit = unitCentroids(centroids)
    def d(a: Seq[Float], b: Seq[Double]): Double = {
      var s = 0.0
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { s += a(i).toDouble * b(i); i += 1 }
      s
    }
    centroids.indices.sortBy(i => -d(query, unit(i)))
  }

  /** Lloyd's k-means trainer for the IVF coarse quantizer.
    *
    * Deterministic seeding (the k vectors with the smallest id-hash —
    * reproducible anywhere, no RNG state to distribute), then
    * `iterations` rounds of: map-side cosine argmax assignment
    * ([[ivfAssign]], centroids baked as literals) + one per-(cell,
    * dimension) mean aggregation. The shuffle each round carries at
    * most k×dims×partitions partially-aggregated sums — independent
    * of corpus size; the driver holds only the k×dims centroid
    * matrix. Cells that lose all members keep their previous
    * centroid.
    */
  /** Deterministic √n seed centroids for the cell blockers
    * ([[semDedup]]/[[knnJoin]]/[[contrastivePairs]]): k = ⌈√n⌉
    * from one count, seeds = the k vectors with the smallest
    * md5(id) (the [[kmeansCentroids]] seeding rank) in (hash, id)
    * order. k ≈ √n is exactly what minimizes cell-blocked all-pairs
    * cost (O(n·k) assignment + O(n²/k) pair verification →
    * O(n^1.5); fixed k degrades to quadratic pairs, k ∝ n to
    * quadratic assignment), and deriving it from COUNT — not from
    * the id domain — keeps the law intact under sparse or offset id
    * spaces. No training pass, no RNG: count, hash rank and seed
    * set are pure functions of the data, so any engine — including
    * a SQL oracle — re-derives the identical centroid list, and k
    * GROWS WITH THE CORPUS by construction instead of by operator
    * tuning.
    *
    * Driver state is O(√n · dims) floats, bounded by `maxSeeds`
    * (hash-order prefix, so the cap is deterministic too). A corpus
    * big enough to hit the cap has outgrown literal-centroid
    * assignment plans — switch to [[twoLevelAssign]], which keeps
    * the √n-cell blocking law with k₁ ≈ n^(1/4) literals and the
    * rest of the matrix in a broadcast relation.
    */
  def sqrtSeedCentroids(embeddings: DataFrame, idCol: String,
      vecCol: String, maxSeeds: Int = 4096): Seq[Seq[Float]] = {
    require(maxSeeds > 0, "sqrtSeedCentroids: maxSeeds must be positive")
    val base = embeddings.select(col(idCol).as("_id"), col(vecCol).as("_v"))
    // seed candidates exclude degenerate vectors (null vec / null
    // element — floatSeq would NPE at the driver), the same pure SQL
    // predicate twoLevelParts applies to its coarse seeds; k still
    // derives from the FULL count (the blocking law sizes cells for
    // the whole corpus, degenerate rows included). The oracle twins
    // (duckSqrtAssign / duckTwoLevelAssign) carry the identical
    // predicate in their seed CTEs, so both engines pick the same
    // seed prefix even on corpora with degenerate rows.
    val (rows, n) = seedPrefixAndCount(base, "_id", "_v", maxSeeds,
      "sqrtSeedCentroids")
    val k = math.min(math.ceil(math.sqrt(n.toDouble)).toLong,
      maxSeeds.toLong).toInt
    if (k == 0) return Seq.empty
    rows.take(k)
  }

  /** ONE scheduler job for the count + seed-prefix pair every seed
    * derivation needs (r16): a single hash aggregation whose buffer
    * is [[graft.functions.CountAndTopVectors]] — the FULL corpus
    * count (degenerate rows included, exactly the separate
    * `base.count()` this replaces) beside a bounded heap of the
    * `maxSeeds` smallest (md5(id), id) candidate vectors, degenerate
    * vectors excluded by the same predicate the old collect filtered
    * on. Partial aggregation keeps per-task state at maxSeeds rows
    * and the merged result is one row of ≤ maxSeeds·dims floats
    * (~1 MB at the defaults) whatever the corpus size; the previous
    * two-job spelling paid a full extra pass + a scheduling floor
    * per caller. (An Observation-based count was tried and rejected:
    * observed metrics re-fire when the plan re-executes a subtree —
    * range-partition SAMPLING double-counted the corpus whenever the
    * optimizer dropped the limit on a small input.) Returns
    * (ordered candidate vectors, full corpus count). Ids must be
    * integral: the aggregate's long id cast would turn any other
    * type into nulls and the caller would fall back to its sentinel
    * path without a word.
    */
  private def seedPrefixAndCount(base: DataFrame, idCol: String,
      vecCol: String, maxSeeds: Int, op: String): (Seq[Seq[Float]], Long) = {
    val idType = base.schema(idCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(idType),
      s"$op: id column must be an integral type, got ${idType.simpleString}")
    // array<double> embeddings cast per element to float — the same
    // Number.floatValue truncation floatSeq applied on the driver
    val row = base.select(graft.functions.VectorExpressions
        .countAndTopVectors(md5(col(idCol).cast("string")),
          col(idCol).cast("long"), col(vecCol).cast("array<float>"),
          maxSeeds).as("_ct"))
      .collect()(0).getStruct(0)
    // external conversion yields mutable.ArraySeq cells — normalize
    // to the immutable Seq[Seq[Float]] the centroid literals expect
    (row.getSeq[scala.collection.Seq[Float]](1).map(_.toIndexedSeq).toSeq,
      row.getLong(0))
  }

  /** Two-level IVF cell assignment — the declared path PAST the
    * [[sqrtSeedCentroids]] `maxSeeds` cap. Single-level blocking
    * holds all k ≈ √n centroids on the driver and bakes them into
    * the plan; at √n > maxSeeds (n ≳ 16.7M at the 4096 default) the
    * literal plan is the wrong CARRIER for the matrix, not a reason
    * to stop growing k. Two levels restore the same blocking law —
    * ~√n cells of ~√n members — with the big matrix moved where
    * Spark moves big read-only data: a broadcast relation.
    *
    *  - coarse: k₁ = min(⌈√t⌉, maxSeeds) hash-rank seed centroids
    *    where t = ⌈√n⌉ (so k₁ ≈ n^(1/4)), assigned map-side via
    *    [[ivfAssign]] literals exactly like single-level;
    *  - fine: each coarse cell of size c splits into k₂(c) = ⌈2c/t⌉
    *    subcells — t is the target subcell size, so skewed coarse
    *    cells get proportionally more subcells, and the factor 2
    *    OVERSAMPLES against conditional-assignment skew: vectors
    *    sharing a coarse cell are already directionally similar, so
    *    a within-cell argmax has lower angular contrast than the
    *    global one and at ⌈c/t⌉ seeds a well-placed sub-seed grabs
    *    several targets' worth of mass (measured at n=200k: max
    *    subcell 3000 vs target 448 and Σ pairs 2.4× single-level's;
    *    at ⌈2c/t⌉ the sum drops BELOW single-level — 76M vs 90M —
    *    with max subcell 1587). Sub-seeds are the (md5(id), id)
    *    hash-rank prefix WITHIN the cell (the [[sqrtSeedCentroids]]
    *    rule applied per cell), unit-normalized in-plan
    *    ([[unitCentroids]]'s arithmetic as Spark expressions),
    *    collected per cell, broadcast-joined back on the coarse id,
    *    and scored per row with
    *    [[graft.functions.VectorArgmaxDotCells]] — the argmax-dot
    *    whose matrix is a column, not a literal.
    *
    * Totals: Σ k₂ ≈ 2√n subcells of ~t/2 members each, so the
    * in-cell pair stream keeps single-level's O(n^1.5) law, while
    * driver state drops to O(n^(1/4)·d) floats and no single
    * expression carries more than max(k₁, maxc k₂(c)) centroids.
    * k₂(c) is additionally CAPPED at maxSeeds per cell: each cell's
    * sub-centroids travel as one collect_list row, and an uncapped
    * ⌈oversample·c/t⌉ under total coarse skew would pack ~2√n
    * vectors into one ArrayData value — past Spark's comfortable
    * single-row size long before the broadcast itself is. The cap
    * bounds every row to maxSeeds·d doubles (2 MB at the defaults);
    * in the BALANCED case it binds only past
    * n ≈ (maxSeeds/oversample)⁴ ≈ 1.8×10¹³, beyond which subcell
    * sizes grow past t by the capped factor (graceful blocking-law
    * degradation) instead of any single row blowing up. The ceiling
    * thus moves from √n ≤ maxSeeds to n ≤ maxSeeds⁴ (≈2.8×10¹⁴ at
    * the default, exact blocking law to ~1.8×10¹³), with the √n·d
    * sub-seed matrix riding an executor-side torrent broadcast
    * (~500 MB at n=10¹², d=64) instead of every task's serialized
    * plan. Every step —
    * count, hash ranks, ⌈2c/t⌉, normalization, argmax with ties to
    * the lower rank — is a pure function of the data, so a SQL
    * oracle re-derives identical cells (the [[sqrtSeedCentroids]]
    * re-derivability discipline, held through both levels).
    *
    * `oversample` is the fine-seed density factor (the 2 above);
    * TwoLevelProbe swept it to measure the skew trade (SCALING round
    * 10) — production callers keep the measured default.
    *
    * Output: (id, vec, cell) with cell = coarse·2³² + fine.
    */
  def twoLevelAssign(embeddings: DataFrame, idCol: String, vecCol: String,
      maxSeeds: Int = 4096, oversample: Int = 2): DataFrame =
    twoLevelPrepare(embeddings, idCol, vecCol, maxSeeds, oversample,
      "twoLevelAssign") match {
      case Left(base) =>
        base.select(col("id"), col("vec"), lit(-1L).as("cell"))
      case Right(joined) =>
        // argmaxDotCells returns -1 when no sub-centroid matches the
        // row's dimensionality (mixed-dimension degenerate rows). The
        // raw composite coarse·2³² + (−1) would alias into the PREVIOUS
        // coarse cell's fine-0xFFFFFFFF slot, silently co-blocking
        // degenerate rows with a neighbor cell — map them to the same
        // dedicated −1 sentinel the k₁=0 branch uses instead.
        joined.withColumn("_fine", graft.functions.VectorExpressions
            .argmaxDotCells(col("vec"), col("_subcents")).cast("long"))
          .select(col("id"), col("vec"),
            when(col("_fine") < 0L, lit(-1L))
              .otherwise(col("_coarse").cast("long") * lit(4294967296L) +
                col("_fine"))
              .as("cell"))
    }

  /** [[twoLevelAssign]] with the multi-probe dial: beside the row's
    * own composite cell, emit `probe_cells` — the `nprobe` nearest
    * FINE cells within the row's coarse cell, ranked (dot DESC, fine
    * id ASC) via [[graft.functions.VectorTopDotCells]] (element 0 is
    * always the own cell, so nprobe=1 degenerates to the plain
    * assignment). Probing neighbors of the own fine cell is the
    * standard IVF answer to blocked-rule recall loss: q189/q190
    * measured the own-cell rule at ~0.19–0.20 recall@10, and each
    * extra probe buys recall back at a linear pair-cost factor
    * (q191–q194 put both sides of that curve under the DuckDB
    * oracle). Every ranking input is the same pure function of the
    * data as the assignment itself, so the oracle re-derives the
    * probe sets exactly.
    *
    * Output: (id, vec, cell, probe_cells) — degenerate rows (empty
    * corpus, no dimension-matching sub-centroid) carry cell = −1 and
    * probe_cells = [−1], keeping the sentinel rule aligned with
    * [[twoLevelAssign]].
    */
  def twoLevelProbe(embeddings: DataFrame, idCol: String, vecCol: String,
      nprobe: Int, maxSeeds: Int = 4096, oversample: Int = 2): DataFrame = {
    require(nprobe > 0, "twoLevelProbe: nprobe must be positive")
    twoLevelPrepare(embeddings, idCol, vecCol, maxSeeds, oversample,
      "twoLevelProbe") match {
      case Left(base) =>
        base.select(col("id"), col("vec"), lit(-1L).as("cell"),
          array(lit(-1L)).as("probe_cells"))
      case Right(joined) =>
        joined.withColumn("_fines", graft.functions.VectorExpressions
            .topDotCells(col("vec"), col("_subcents"), nprobe))
          .select(col("id"), col("vec"),
            when(size(col("_fines")) === 0, lit(-1L))
              .otherwise(col("_coarse").cast("long") * lit(4294967296L) +
                element_at(col("_fines"), 1).cast("long"))
              .as("cell"),
            when(size(col("_fines")) === 0, array(lit(-1L)))
              .otherwise(transform(col("_fines"), f =>
                col("_coarse").cast("long") * lit(4294967296L) +
                  f.cast("long")))
              .as("probe_cells"))
    }
  }

  /** The two-level family's shared pieces: the (id, vec) base, the
    * coarse literal seed matrix, the coarse-assigned frame, and the
    * per-cell sub-centroid table. */
  private final case class TwoLevelParts(base: DataFrame,
      coarse: Seq[Seq[Float]], assigned: DataFrame, subcents: DataFrame)

  /** The shared head of the two-level family: coarse literal
    * assignment + per-cell broadcast sub-centroids, up to (but not
    * including) the fine scoring — [[twoLevelAssign]] finishes it
    * with an argmax, [[twoLevelProbe]] with a top-nprobe ranking,
    * [[twoLevelProbeWide]] with a merged ranking over several coarse
    * candidates. Left(base) = the degenerate empty-corpus branch
    * (k₁ = 0).
    */
  private def twoLevelPrepare(embeddings: DataFrame, idCol: String,
      vecCol: String, maxSeeds: Int, oversample: Int,
      op: String): Either[DataFrame, DataFrame] =
    twoLevelParts(embeddings, idCol, vecCol, maxSeeds, oversample, op)
      // LEFT join: degenerate rows (_coarse = −1, never in subcents)
      // survive with a null _subcents, which every downstream scorer
      // (argmaxDotCells → −1, topDotCells → empty) maps to the −1
      // sentinel — they are never silently dropped
      .map(p => p.assigned.join(broadcast(p.subcents), Seq("_coarse"), "left"))

  private def twoLevelParts(embeddings: DataFrame, idCol: String,
      vecCol: String, maxSeeds: Int, oversample: Int,
      op: String): Either[DataFrame, TwoLevelParts] = {
    require(maxSeeds > 0, s"$op: maxSeeds must be positive")
    require(oversample > 0, s"$op: oversample must be positive")
    val base = Parallelism.ensure(
      embeddings.select(col(idCol).as("id"), col(vecCol).as("vec")))
    // seed candidates exclude degenerate vectors (null vec / null
    // element — floatSeq would NPE at the driver); dimension-mixed
    // but well-formed rows stay eligible (scorers skip mismatched
    // centroids). Pure SQL predicate → the oracle re-derives the
    // identical seed prefix. Count + candidate prefix in ONE job
    // (seedPrefixAndCount, r16) — k1 ≤ maxSeeds, so the k1-prefix of
    // the over-fetched candidates IS the previous limit(k1) collect.
    val (cands, n) = seedPrefixAndCount(base, "id", "vec", maxSeeds, op)
    val t = math.ceil(math.sqrt(n.toDouble)).toLong
    val k1 = math.min(math.ceil(math.sqrt(t.toDouble)).toLong,
      maxSeeds.toLong).toInt
    if (k1 == 0) return Left(base)
    val coarse: Seq[Seq[Float]] = cands.take(k1)
    if (coarse.isEmpty) return Left(base)
    val assigned = base.select(col("id"), col("vec"),
      ivfAssign(col("vec"), coarse).as("_coarse"))
    val wCell = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_coarse"))
    val wRank = wCell.orderBy(md5(col("id").cast("string")), col("id"))
    // in-plan unit normalization — the expression twin of
    // unitCentroids (double square-sum in element order, zero norm
    // normalizing to itself)
    val norm = sqrt(aggregate(col("vec"), lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double")))
    val unit = when(norm === lit(0.0), transform(col("vec"), _.cast("double")))
      .otherwise(transform(col("vec"), x => x.cast("double") / norm))
    // degenerate rows (_coarse = −1) never form a phantom cell: their
    // "sub-centroids" would be junk (null / mixed-dim unit vectors)
    // that could co-block them under a NEGATIVE composite cell the
    // coarse-beam path can never emit — they take the −1 sentinel via
    // the left join in twoLevelPrepare instead
    val subcents = assigned.where(col("_coarse") >= 0)
      .withColumn("_r", row_number().over(wRank))
      // k₂ is capped at maxSeeds per cell: the per-cell sub-centroid
      // list rides ONE collect_list row, so uncapped ⌈oversample·c/t⌉
      // under total coarse skew (c → n) would put ~oversample·√n
      // vectors in a single ArrayData value — ~1 GB/row at n=10¹²,
      // d=64 — far past Spark's comfortable single-value size. The
      // cap bounds any row to maxSeeds·d doubles (2 MB at defaults)
      // and binds only when one coarse cell holds > t·maxSeeds/
      // oversample vectors (≥8.4M at defaults — a degenerate
      // assignment the pair-budget guard downstream refuses anyway).
      .withColumn("_k2",
        least(ceil(count(lit(1)).over(wCell).cast("double") * oversample /
          t.toDouble), lit(maxSeeds.toLong)))
      .where(col("_r") <= col("_k2"))
      .select(col("_coarse"), col("_r"), unit.as("_cv"))
      .groupBy(col("_coarse"))
      .agg(transform(sort_array(collect_list(struct(col("_r"), col("_cv")))),
        x => x.getField("_cv")).as("_subcents"))
    Right(TwoLevelParts(base, coarse, assigned, subcents))
  }

  /** [[twoLevelProbe]] widened to the COARSE level — full two-level
    * multi-probe: each row considers its `nprobeCoarse` nearest
    * coarse cells ([[graft.functions.VectorTopDot]], the literal-
    * matrix top-n), scores each candidate's fine sub-centroids, and
    * probes its own cell plus the `nprobe`−1 best remaining
    * (candidate, fine) cells merged by (dot DESC, composite cell ASC).
    * Fine-level probing alone ([[twoLevelProbe]]) is ceilinged by the
    * coarse assignment's recall — a true neighbor in a DIFFERENT
    * coarse cell can never become a candidate; widening the coarse
    * beam removes that ceiling at an nprobeCoarse-linear cost.
    *
    * Contracts: nprobeCoarse=1 returns [[twoLevelProbe]]'s rows
    * exactly (the merged ranking over one candidate IS the fine
    * ranking); `cell` is always the plain two-stage assignment
    * ([[twoLevelAssign]]) and probe_cells[0] = cell, so every
    * consumer's keep/rank rules are unchanged. Every ranking input is
    * a pure function of the data — the oracle re-derives candidate
    * sets, fine scores, and the merged order (q196).
    *
    * Shuffle profile vs [[twoLevelProbe]]: the broadcast join fans
    * out ×nprobeCoarse (explode on the candidate list), and merging
    * adds ONE id-keyed aggregation; still no corpus×corpus surface
    * anywhere. Output: (id, vec, cell, probe_cells).
    */
  def twoLevelProbeWide(embeddings: DataFrame, idCol: String,
      vecCol: String, nprobeCoarse: Int, nprobe: Int, maxSeeds: Int = 4096,
      oversample: Int = 2): DataFrame = {
    require(nprobeCoarse > 0, "twoLevelProbeWide: nprobeCoarse must be positive")
    require(nprobe > 0, "twoLevelProbeWide: nprobe must be positive")
    twoLevelParts(embeddings, idCol, vecCol, maxSeeds, oversample,
      "twoLevelProbeWide") match {
      case Left(base) =>
        base.select(col("id"), col("vec"), lit(-1L).as("cell"),
          array(lit(-1L)).as("probe_cells"))
      case Right(p) =>
        // posexplode_OUTER keeps degenerate rows (null vec, null
        // element, mismatched dims — their topDot is EMPTY) as one
        // (_cr=null, _coarse=null) row, and the LEFT broadcast join
        // keeps candidates whose coarse cell has no sub-centroids
        // (_subcents null → topDotCells empty — same rows the old
        // inner join dropped, contributing nothing). `vec` rides the
        // candidate rows through the merge, so the id-keyed
        // re-attachment join of the WHOLE corpus the previous
        // spelling ended with (p.base ⟕ merged — one more exchange
        // and one more corpus scan) is gone (r16); every group holds
        // copies of one row's vec, so first() is deterministic.
        val cands = p.base.select(col("id"), col("vec"),
          posexplode_outer(graft.functions.VectorExpressions.topDot(
            col("vec"), unitCentroids(p.coarse), nprobeCoarse))
            .as(Seq("_cr", "_coarse")))
        val composite = col("_coarse").cast("long") * lit(4294967296L)
        val scored = cands.join(broadcast(p.subcents), Seq("_coarse"), "left")
          .withColumn("_fines", graft.functions.VectorExpressions
            .topDotCells(col("vec"), col("_subcents"), nprobe))
          .select(col("id"), col("vec"), col("_cr"),
            // (−dot, cell) structs: ascending struct order = dot DESC
            // with lower-cell tie-break; the dot re-evaluates the
            // winner's exact left-to-right accumulation
            transform(col("_fines"), f => struct(
              (-graft.functions.VectorExpressions.dot(col("vec"),
                element_at(col("_subcents"), f + 1))).as("ns"),
              (composite + f.cast("long")).as("cell"))).as("_scored"),
            when(col("_cr") === 0,
              when(size(col("_fines")) === 0, lit(-1L))
                .otherwise(composite +
                  element_at(col("_fines"), 1).cast("long")))
              .as("_own"))
        val merged = scored.groupBy(col("id")).agg(
          first(col("vec")).as("vec"),
          // only the rank-0 candidate carries _own; max ignores nulls
          max(col("_own")).as("_own"),
          flatten(collect_list(col("_scored"))).as("_all"))
        val others = transform(
          array_sort(filter(col("_all"), x => x.getField("cell") =!= col("_own"))),
          x => x.getField("cell"))
        merged
          .select(col("id"), col("vec"),
            coalesce(col("_own"), lit(-1L)).as("cell"),
            when(col("_own").isNull || col("_own") === -1L, array(lit(-1L)))
              .otherwise(concat(array(col("_own")),
                slice(others, 1, nprobe - 1)))
              .as("probe_cells"))
    }
  }

  /** Default in-cell ordered-pair budget for the cell-blocked
    * self-joins — ~4×10⁹ scored pairs (minutes of vector math on one
    * 32-way host, trivially parallel on a cluster). Generous enough
    * that any sanely-parameterized blocking passes; small enough
    * that a fixed tiny centroid set pointed at a grown corpus —
    * all-pairs in disguise — fails loudly before the join runs.
    */
  val DefaultPairBudget: Long = 4000000000L

  /** Estimate the in-cell ordered-pair count Σ c·(c−1) from one
    * cheap groupBy over the assignment and refuse to run a blocked
    * self-join whose implied pair stream exceeds `maxPairs` — the
    * [[mmrSelect]] pool-bound discipline applied to the other place
    * a caller can silently go quadratic (fixed k under corpus
    * growth, or a degenerate assignment collapsing into one cell).
    * Costs one extra pass over (vec → cell); decimal accumulation so
    * the estimate itself cannot overflow at any corpus size.
    */
  private def requirePairBudget(assigned: DataFrame, op: String,
      maxPairs: Long): Unit = {
    if (maxPairs == Long.MaxValue) return
    val est = assigned.groupBy(col("cell")).agg(count(lit(1)).as("c"))
      .agg(sum(col("c").cast("decimal(38,0)") *
          (col("c") - lit(1L)).cast("decimal(38,0)")).as("pairs"))
      .collect()(0)
    val pairs = if (est.isNullAt(0)) BigDecimal(0)
      else BigDecimal(est.getDecimal(0))
    require(pairs <= BigDecimal(maxPairs),
      s"$op: cell blocking implies $pairs in-cell candidate pairs " +
        s"(> maxPairs=$maxPairs). The centroid set is too small (or " +
        "too degenerate) for this corpus — derive k from corpus size " +
        "(sqrtSeedCentroids / kmeansCentroids with k~sqrt(n), or " +
        "twoLevelAssign past the maxSeeds cap) or raise maxPairs " +
        "deliberately.")
  }

  def kmeansCentroids(
      embeddings: DataFrame, idCol: String, vecCol: String,
      k: Int, iterations: Int = 5): Seq[Seq[Float]] = {
    require(k > 0 && iterations >= 0)
    val vecs = Parallelism.ensure(
      embeddings.select(col(idCol).as("_id"), col(vecCol).as("_v")))
    var centroids: Seq[Seq[Float]] = vecs
      .withColumn("_h", SampleOps.hashUnit(col("_id")))
      .orderBy(col("_h"), col("_id")).limit(k)
      .select(col("_v")).collect().map(floatSeq(_, 0)).toSeq
    for (_ <- 1 to iterations) {
      val byDim = vecs
        .withColumn("_cell", ivfAssign(col("_v"), centroids))
        .select(col("_cell"), posexplode(col("_v")).as(Seq("_pos", "_x")))
        .groupBy(col("_cell"), col("_pos"))
        .agg(avg(col("_x").cast("double")).as("_m"))
        .collect()
      val means = byDim.groupBy(_.getInt(0)).map { case (cell, rows) =>
        cell -> rows.sortBy(_.getInt(1)).map(_.getDouble(2).toFloat).toSeq
      }
      centroids = centroids.zipWithIndex.map { case (old, i) =>
        means.getOrElse(i, old)
      }
    }
    centroids
  }

  /** The DECLARED retrieval operating point (round-13 ProbeSweep,
    * SCALING round 13; shipped oracle-green as q197/q198): on the
    * single-level √n IVF surface, probing the query's ⌈0.55·k⌉
    * nearest cells reads mean recall@10 ≥ 0.8 at every measured
    * scale (0.836 / 0.864 / 0.938 at sf0.01 / sf0.1 / 10x) at ~34%
    * of brute-force pair cost — the dial a retrieval consumer gets
    * when they don't pick one themselves ([[ivfTopK]] /
    * [[ivfTopKPartitioned]] default). The SRP family ([[annTopK]])
    * and the two-level family are the DEDUP/BLOCKING surfaces; the
    * measured split is recorded in SURVEY §2.12.
    */
  def retrievalNprobe(nCentroids: Int): Int =
    math.max(1, math.ceil(0.55 * nCentroids).toInt)

  /** nprobe = 0 (the default) means "the declared retrieval
    * operating point" — [[retrievalNprobe]] of the centroid count. */
  private def resolveNprobe(nprobe: Int, nCentroids: Int, op: String): Int = {
    require(nprobe >= 0,
      s"$op: nprobe must be >= 0 (0 = declared retrieval operating point)")
    if (nprobe == 0) retrievalNprobe(nCentroids) else nprobe
  }

  /** ANN top-k via IVF: score only vectors in the query's `nprobe`
    * nearest cells. nprobe defaults to the declared retrieval
    * operating point ([[retrievalNprobe]]). */
  def ivfTopK(
      embeddings: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], centroids: Seq[Seq[Float]],
      k: Int, nprobe: Int = 0): DataFrame = {
    val probeCells = ivfCellOf(query, centroids)
      .take(resolveNprobe(nprobe, centroids.size, "ivfTopK"))
    val q = lit(query.toArray)
    Parallelism.ensure(embeddings.select(col(idCol), col(vecCol)))
      .withColumn("_cell", ivfAssign(col(vecCol), centroids))
      .where(col("_cell").isin(probeCells: _*))
      .select(col(idCol), round(cosine(col(vecCol), q), 6).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** L2 argmin against literal sub-centroids via the dot-product
    * identity: argmin ||x−c||² = argmax (x·c − ||c||²/2), so the
    * native codegen'd dot carries PQ assignment too (ties to the
    * lower code id).
    */
  def pqAssign(vec: Column, codebook: Seq[Seq[Float]]): Column =
    argmax(codebook.map { c =>
      val halfNorm = 0.5 * c.map(x => x.toDouble * x.toDouble).sum
      dot(vec, lit(c.toArray)) - lit(halfNorm)
    })

  /** Product-quantization codebooks: the vector split into `m`
    * equal subspaces, each with its own `k`-codeword L2 k-means
    * codebook (Lloyd's, deterministic id-hash seeding like
    * [[kmeansCentroids]]). Returns codebooks(subspace)(code)(dim).
    *
    * Scale: one Spark job per Lloyd iteration covering every
    * subspace at once — the shuffle carries k×dims partial sums,
    * independent of corpus size; the driver holds only the m×k×
    * (dims/m) = k×dims codebook matrix. (Jégou et al., "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011.)
    */
  def pqCodebooks(
      embeddings: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, iterations: Int = 5): Seq[Seq[Seq[Float]]] = {
    val dims = embeddings.select(size(col(vecCol))).head().getInt(0)
    require(m > 0 && dims % m == 0, s"dims $dims not divisible into $m subspaces")
    val sub = dims / m
    val vecs = Parallelism.ensure(
      embeddings.select(col(idCol).as("_id"), col(vecCol).as("_v")))
    // one deterministic seed sample feeds every subspace (each takes
    // its own slice of the same k vectors)
    val seeds: Seq[Seq[Float]] = vecs
      .withColumn("_h", SampleOps.hashUnit(col("_id")))
      .orderBy(col("_h"), col("_id")).limit(k)
      .select(col("_v")).collect().map(floatSeq(_, 0)).toSeq
    var codebooks: Seq[Seq[Seq[Float]]] =
      (0 until m).map(j => seeds.map(_.slice(j * sub, (j + 1) * sub)))
    for (_ <- 1 to iterations) {
      // assign all m codes map-side, then average every
      // (subspace, code, dim) cell in a single shuffle
      val byCell = vecs
        .select(pqEncode(col("_v"), codebooks).as("_codes"),
          posexplode(col("_v")).as(Seq("_pos", "_x")))
        .select(
          (col("_pos") / sub).cast("int").as("_j"),
          element_at(col("_codes"), (col("_pos") / sub).cast("int") + 1).as("_code"),
          (col("_pos") % sub).as("_d"),
          col("_x").cast("double").as("_x"))
        .groupBy(col("_j"), col("_code"), col("_d"))
        .agg(avg(col("_x")).as("_m"))
        .collect()
      val means: Map[(Int, Int), Seq[Float]] = byCell
        .groupBy(r => (r.getInt(0), r.getInt(1)))
        .map { case (jc, rows) =>
          jc -> rows.sortBy(_.getInt(2)).map(_.getDouble(3).toFloat).toSeq
        }
      codebooks = codebooks.zipWithIndex.map { case (cb, j) =>
        cb.zipWithIndex.map { case (old, i) => means.getOrElse((j, i), old) }
      }
    }
    codebooks
  }

  /** PQ code array for a vector: m small ints. Materialized as a
    * column, this is the scan-side payoff — m×4 bytes instead of
    * dims×4 per row (m=8 over 64 float dims is an 8× bandwidth cut
    * before int8 code packing). */
  def pqEncode(vec: Column, codebooks: Seq[Seq[Seq[Float]]]): Column = {
    val sub = codebooks.head.head.length
    array(codebooks.zipWithIndex.map { case (cb, j) =>
      pqAssign(slice(vec, j * sub + 1, sub), cb)
    }: _*)
  }

  /** ANN top-k via PQ asymmetric-distance computation: per-subspace
    * inner-product lookup tables for the query (m×k doubles, baked
    * as literals), ADC candidate generation, then exact cosine
    * re-rank of the `k × refine` survivors — the standard ADC +
    * re-rank pipeline. Codes are computed inline here for
    * self-containedness; a deployment materializes [[pqEncode]] once
    * (as the SRP/IVF stores do for bucket ids) so the candidate scan
    * reads m×4 bytes per row, never the float column. The re-rank is
    * a broadcast semi-join on candidate ids, so the second scan is
    * pruned to k×refine rows.
    */
  def pqTopK(
      embeddings: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], codebooks: Seq[Seq[Seq[Float]]],
      k: Int, refine: Int = 4): DataFrame = {
    val sub = codebooks.head.head.length
    val tables: Seq[Array[Double]] = codebooks.zipWithIndex.map { case (cb, j) =>
      val qj = query.slice(j * sub, (j + 1) * sub)
      cb.map(c => c.zip(qj).map { case (x, y) => x.toDouble * y.toDouble }.sum)
        .toArray
    }
    val base = Parallelism.ensure(embeddings.select(col(idCol), col(vecCol)))
    val adc = tables.zipWithIndex
      .map { case (t, j) => element_at(lit(t), col("_code").getItem(j) + 1) }
      .reduce(_ + _)
    val candidates = base
      .withColumn("_code", pqEncode(col(vecCol), codebooks))
      .select(col(idCol), adc.as("_adc"))
      .orderBy(col("_adc").desc, col(idCol))
      .limit(k * refine)
    val q = lit(query.toArray)
    base.join(broadcast(candidates.select(col(idCol))), Seq(idCol), "left_semi")
      .select(col(idCol), round(cosine(col(vecCol), q), 6).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** Symmetric int8 quantization of an embedding: per-vector scale
    * = 127 / max(|x|), values rounded to [-127, 127]. Quarters the
    * storage and memory bandwidth of a float32 embedding column — at
    * corpus scale the scan, not the arithmetic, is the ANN
    * bottleneck. Dequantize ≈ value / scale; cosine on int8 is
    * close enough for candidate generation, with exact re-scoring on
    * the float column for the final top-k.
    */
  def quantizeScale(vec: Column): Column = {
    val maxAbs = array_max(transform(vec, x => abs(x.cast("double"))))
    when(maxAbs === 0, 1.0).otherwise(lit(127.0) / maxAbs)
  }

  def quantize(vec: Column): Column =
    transform(vec, x =>
      round(x.cast("double") * quantizeScale(vec)).cast("int"))

  def dequantize(qvec: Column, scale: Column): Column =
    transform(qvec, x => x.cast("double") / scale)

  /** SemDedup — cluster-then-threshold semantic deduplication (the
    * Abbas et al. 2023 shape, re-expressed Spark-first): assign every
    * embedding to its nearest centroid (map-side literal argmax — the
    * same IVF cell expression the ANN index uses), self-join WITHIN
    * cells only, and drop every vector that has a ≥`threshold`-cosine
    * neighbor with a smaller id. Candidate generation is blocked by
    * the cell exactly like LSH bands block MinHash — never all-pairs;
    * at corpus scale k is sized so cells stay join-able (k ≈ n/target
    * cell size; [[sqrtSeedCentroids]] derives k ≈ √n from the data
    * itself) and skewed cells fall to AQE's skew split. The blocking
    * contract is ENFORCED: the implied in-cell pair count is
    * estimated before the join and the call refuses (`maxPairs`)
    * when a too-small centroid set would make it all-pairs in
    * disguise. Cosine is rounded to 6 places before the threshold
    * compare so the keep decision is stable across engines.
    * Output: (id, cell, kept).
    */
  def semDedup(embeddings: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Seq[Float]], threshold: Double,
      maxPairs: Long = DefaultPairBudget): DataFrame = {
    val assigned = Parallelism.ensure(
        embeddings.select(col(idCol).as("id"), col(vecCol).as("vec")))
      .select(col("id"), col("vec"),
        ivfAssign(col("vec"), centroids).as("cell"))
    dropNearDups(assigned, threshold, "semDedup", maxPairs)
  }

  /** [[semDedup]] blocked by [[twoLevelAssign]] instead of a literal
    * centroid set — the form that keeps working where √n outgrows
    * `maxSeeds` (single-level's declared ceiling). Same keep rule,
    * same budget enforcement, same 6-dp cosine stability; only the
    * blocking carrier changes. Output: (id, cell, kept) with the
    * composite two-level cell id.
    */
  def semDedupTwoLevel(embeddings: DataFrame, idCol: String, vecCol: String,
      threshold: Double, maxSeeds: Int = 4096,
      maxPairs: Long = DefaultPairBudget, oversample: Int = 2): DataFrame =
    // the keep rule consumes the assignment four times (budget agg,
    // both join sides, the final left join); two-level assignment is
    // itself a windowed broadcast-join subplan, so pin it once —
    // one corpus-sized materialization instead of three recomputes
    dropNearDups(
      twoLevelAssign(embeddings, idCol, vecCol, maxSeeds, oversample)
        .localCheckpoint(),
      threshold, "semDedupTwoLevel", maxPairs)

  /** [[semDedupTwoLevel]] with the multi-probe dial: candidate pairs
    * are (prober, owner) pairs where EITHER vector's `nprobe` probe
    * set ([[twoLevelProbe]]) contains the other's own cell — the
    * boundary-straddling near-duplicates the own-cell rule's measured
    * ~0.2 recall leaves uncaught become candidates at a linear
    * pair-cost factor (the q191–q194 curve applied to dedup). The
    * keep rule is unchanged: the LARGER id of any ≥threshold pair
    * drops, so nprobe=1 returns [[semDedupTwoLevel]]'s rows exactly
    * (probe_cells[0] is the own cell) and the kept set shrinks
    * monotonically as probes widen. Budget enforced on the PROBE
    * rule's implied pairs ([[probePairCost]]) before the join.
    * Output: (id, cell, kept). */
  def semDedupTwoLevelProbe(embeddings: DataFrame, idCol: String,
      vecCol: String, threshold: Double, nprobe: Int, maxSeeds: Int = 4096,
      maxPairs: Long = DefaultPairBudget, oversample: Int = 2): DataFrame =
    semDedupProbed(
      twoLevelProbe(embeddings, idCol, vecCol, nprobe, maxSeeds, oversample),
      threshold, maxPairs, op = "semDedupTwoLevelProbe")

  /** The multi-probe dedup keep rule over ANY assignment in the probe
    * family's common shape (id, vec, cell, probe_cells) — the
    * consumer half of the round-13 dial unification: feed it
    * [[twoLevelProbe]] (≡ [[semDedupTwoLevelProbe]]),
    * [[twoLevelProbeWide]] (cross-coarse boundary straddlers become
    * candidates too), or [[ivfProbe]] (single-level probed dedup; at
    * nprobe=1 row-identical to [[semDedup]] on the same centroids).
    * Candidate pairs come from EITHER side's probe set (the join
    * enumerates both directions, so greatest(id) per qualifying pair
    * is the full symmetric larger-id-drops rule without a union);
    * the probe pair budget is enforced before the join.
    *
    * Degenerate rows (sentinel cell −1, probe_cells [−1]) CO-BLOCK in
    * the −1 cell, exactly as they do under [[semDedup]]'s own-cell
    * rule (cell = −1 joins cell = −1) — the nprobe=1 ≡ [[semDedup]]
    * equivalence ProbeDialSpec pins relies on the two paths agreeing
    * here. Two caveats follow: (a) two dimension-MISMATCHED rows that
    * happen to share the same (wrong) blocking dimension score a real
    * cosine over the overlapping prefix and the larger id can drop —
    * same-dimension corpora are the contract, mixed ones get the
    * prefix semantics [[cosine]] defines; (b) a corpus with d
    * degenerate rows contributes d² (prober, owner) pairs to the
    * [[requireProbePairBudget]] estimate even though most can never
    * clear the threshold — pre-filter degenerate vectors before
    * dedup when d is material, rather than changing the blocking
    * rule here (filtering −1 out of the join would silently break
    * the np=1 equivalence). Output: (id, cell, kept).
    */
  def semDedupProbed(probeAssigned: DataFrame, threshold: Double,
      maxPairs: Long = DefaultPairBudget,
      op: String = "semDedupProbed"): DataFrame = {
    val assigned = Parallelism.ensure(probeAssigned
        .select(col("id"), col("vec"), col("cell"), col("probe_cells")))
      .localCheckpoint()
    requireProbePairBudget(assigned, op, maxPairs)
    val a = assigned.select(col("id"), col("vec"),
      explode(col("probe_cells")).as("_pcell"))
    val b = assigned.select(col("id").as("_oid"), col("vec").as("_ovec"),
      col("cell").as("_ocell"))
    val dups = a.join(b, col("_pcell") === col("_ocell") &&
        col("id") =!= col("_oid"))
      .where(round(cosine(col("vec"), col("_ovec")), 6) >= threshold)
      .select(greatest(col("id"), col("_oid")).as("id")).distinct()
    assigned.join(dups.withColumn("_dup", lit(true)), Seq("id"), "left")
      .select(col("id"), col("cell"), col("_dup").isNull.as("kept"))
  }

  /** The semDedup keep rule over any (id, vec, cell) assignment:
    * budget-check the blocking, join within cells, drop every vector
    * with a ≥threshold-cosine neighbor of smaller id. */
  private def dropNearDups(assigned: DataFrame, threshold: Double,
      op: String, maxPairs: Long): DataFrame = {
    requirePairBudget(assigned, op, maxPairs)
    val a = assigned.alias("a"); val b = assigned.alias("b")
    val dups = a.join(b, col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
      .where(round(cosine(col("a.vec"), col("b.vec")), 6) >= threshold)
      .select(col("b.id").as("id")).distinct()
    assigned.join(dups.withColumn("_dup", lit(true)), Seq("id"), "left")
      .select(col("id"), col("cell"), col("_dup").isNull.as("kept"))
  }

  /** Diversity-quota top-k retrieval: the k most query-similar
    * vectors subject to AT MOST `perCell` per IVF cell — the
    * production form of "don't return twenty copies of the same
    * cluster". One map-side score + cell assignment, a per-cell rank
    * window, then a global TakeOrdered over the quota survivors;
    * deterministic ties ((cosine DESC 6 dp, id)) at both ranks.
    * Contrast with greedy MMR ([[mmrSelect]]): this is one plan and
    * scales like a scan; MMR is the exact sequential objective at k
    * driver rounds.
    */
  def diverseTopK(embeddings: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], centroids: Seq[Seq[Float]], k: Int,
      perCell: Int): DataFrame = {
    val q = lit(query.toArray)
    val scored = Parallelism.ensure(
        embeddings.select(col(idCol).as("id"), col(vecCol).as("vec")))
      .select(col("id"), ivfAssign(col("vec"), centroids).as("cell"),
        round(cosine(col("vec"), q), 6).as("cosine"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("cell"))
      .orderBy(col("cosine").desc, col("id"))
    scored.withColumn("cell_rank", row_number().over(w))
      .where(col("cell_rank") <= perCell)
      .orderBy(col("cosine").desc, col("id"))
      .limit(k)
  }

  /** Greedy maximal-marginal-relevance selection — the EXACT
    * sequential objective: each round picks the candidate maximizing
    * `λ·rel − (1−λ)·max_sim_to_selected`. Inherently k sequential
    * decisions, so this is the bounded trainer-state pattern: the
    * selected set (k vectors) lives on the driver, each round is ONE
    * distributed pass scoring every remaining candidate against the
    * newest pick only (the running max-sim column folds in place —
    * O(n) per round, not O(n·k)). Use for the final re-rank over a
    * candidate pool that [[diverseTopK]] or [[cosineTopK]] already
    * cut to thousands; ties break (score DESC 6 dp, id).
    *
    * The pool bound is ENFORCED, not advisory: k sequential
    * full-pool scans pointed at a corpus would run k corpus jobs and
    * checkpoint-chain corpus-sized state. `maxPool` (default 100k)
    * fails loudly before the first round; raise it only for a pool a
    * single executor can re-scan k times, or pre-cut with
    * [[cosineTopK]]/[[diverseTopK]] and batch the re-rank.
    */
  def mmrSelect(candidates: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], k: Int, lambda: Double,
      maxPool: Long = 100000L): Seq[Long] = {
    val spark = candidates.sparkSession
    val q = lit(query.toArray)
    var pool = Parallelism.ensure(
        candidates.select(col(idCol).as("id"), col(vecCol).as("vec")))
      .select(col("id"), col("vec"),
        round(cosine(col("vec"), q), 6).as("rel"),
        lit(0.0).as("maxSim"))
      .localCheckpoint()
    // count reads the blocks the rounds need anyway — one cheap job
    val poolN = pool.count()
    require(poolN <= maxPool,
      s"mmrSelect: candidate pool has $poolN rows (> maxPool=$maxPool). " +
        "MMR is k sequential full-pool re-scans — cut the pool first " +
        "(cosineTopK/diverseTopK) or raise maxPool deliberately.")
    val picked = Seq.newBuilder[Long]
    var n = 0
    while (n < k) {
      val best = pool
        .select(col("id"), col("vec"),
          round(lit(lambda) * col("rel") -
            lit(1.0 - lambda) * col("maxSim"), 6).as("mmr"))
        .orderBy(col("mmr").desc, col("id")).limit(1)
        .collect()
      if (best.isEmpty) n = k
      else {
        val id = best.head.getLong(0)
        // doubles, not floatSeq: the pick scores a RESULT-determining
        // cosine next round, and float truncation of a double
        // embedding could flip a 6-dp tie; float values widen exactly
        val vec = best.head.getSeq[Number](1).map(_.doubleValue).toSeq
        picked += id
        val prev = pool
        pool = pool.where(col("id") =!= id)
          .select(col("id"), col("vec"), col("rel"),
            greatest(col("maxSim"),
              round(cosine(col("vec"), lit(vec.toArray)), 6)).as("maxSim"))
          .localCheckpoint()
        prev.queryExecution.analyzed.foreach {
          case lr: org.apache.spark.sql.execution.LogicalRDD =>
            lr.rdd.unpersist(blocking = false)
          case _ => ()
        }
        n += 1
      }
    }
    picked.result()
  }

  /** Johnson–Lindenstrauss sign projection — dimensionality reduction
    * to `outDim` via a deterministic ±1 matrix (Achlioptas 2001: the
    * database-friendly JL construction; pairwise distances survive to
    * within the JL bound). Where [[graft.ops.StatsOps.pcaProject]]
    * LEARNS directions from a covariance pass, this needs NO pass
    * over the data at all: the matrix derives from a public integer
    * hash, so any two runs — any two CLUSTERS — project identically
    * without sharing state. Map-side only: `outDim` native dots
    * against literal sign vectors, no shuffle, no UDF.
    */
  def jlProject(df: DataFrame, idCol: String, vecCol: String,
      outDim: Int): DataFrame = {
    // empty corpus: same (id, j, value) shape, zero rows — the
    // empty-input acceptance the rest of the operator surface holds
    // to (first() would throw NoSuchElementException here)
    val probe = df.select(size(col(vecCol)).as("_d")).head(1)
    if (probe.isEmpty)
      return df.select(col(idCol).as("id"), lit(0).as("j"),
        lit(0.0).as("value")).where(lit(false))
    val dims = probe.head.getInt(0)
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    // ONE native matmul (matrix in the codegen references array, not
    // outDim inlined dot expressions — whose huge generated method's
    // JIT fate was run-count-dependent: q181's 10x reading was
    // bimodal 0.3s/2.9s for the same plan); identical arithmetic,
    // per-element null where a composed dot was null
    val dots = graft.functions.VectorExpressions.matmul(col("vec"),
      (0 until outDim).map(j => jlSigns(j, dims)))
    df.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .select(col("id"),
        posexplode(transform(dots, x => round(x * scale, 6)))
          .as(Seq("j", "value")))
  }

  /** Row `j` of the deterministic ±1 JL matrix: the parity of a
    * public integer hash of (j, i) — reproducible everywhere, no
    * state, no seed file. */
  def jlSigns(j: Int, dims: Int): Seq[Double] =
    Seq.tabulate(dims) { i =>
      if ((((j * 1000003L + i) * 2654435761L >>> 15) & 1L) == 0L) 1.0
      else -1.0
    }

  /** Chunk→document embedding pooling: the element-wise mean of every
    * group's vectors — how long documents embedded in chunks become
    * one document vector. One position explode + one (group, i) keyed
    * aggregation; sums ride DECIMAL(28,12) over double-widened floats
    * (the q158 covariance pattern) so the pooled values are partition-
    * and engine-exact, with ONE double division + 6 dp round at the
    * end. Output is the exploded (group, i, mean_val) cell form —
    * dim-sized per group, reassembly into arrays is the caller's
    * one-line `sort_array(collect_list(...))` when needed.
    */
  def meanPool(df: DataFrame, groupCol: String, vecCol: String): DataFrame = {
    val d = org.apache.spark.sql.types.DecimalType(28, 12)
    Parallelism.ensure(
        df.select(col(groupCol).as("g"), col(vecCol).as("v")))
      .select(col("g"), posexplode(col("v")).as(Seq("i", "x")))
      .groupBy(col("g"), col("i"))
      .agg(sum(col("x").cast("double").cast(d)).as("s"),
        count(lit(1)).as("n"))
      .select(col("g"), col("i"),
        round(col("s").cast("double") / col("n"), 6).as("mean_val"))
  }

  /** IVF-cell-blocked k-nearest-neighbor SELF-join: for every vector,
    * its top-k most-cosine-similar neighbors — the all-neighbors
    * retrieval shape under SemDedup's clustering, dataset-graph
    * analysis, and kNN-classifier labeling. Same blocking contract as
    * [[semDedup]]: candidates are same-cell pairs only (never
    * all-pairs — the thing that cannot run at 100 TB), the implied
    * pair count is budget-checked before the join (`maxPairs`),
    * cross-cell true neighbors are the accepted recall loss,
    * probe-widening buys recall back at linear cost.
    *
    * Shuffle profile: one exchange onto the cell key for the block
    * join, one id exchange for the per-id top-k window — both keyed,
    * both bounded by cell sizes, payload vectors never duplicated
    * beyond the pair stream. Ties break on (cosine DESC 6 dp,
    * neighbor id ASC), so ranks are engine-exact.
    */
  def knnJoin(embeddings: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Seq[Float]], k: Int,
      maxPairs: Long = DefaultPairBudget): DataFrame =
    knnOnAssigned(Parallelism.ensure(
        embeddings.select(col(idCol).as("id"), col(vecCol).as("vec")))
      .select(col("id"), col("vec"),
        ivfAssign(col("vec"), centroids).as("cell")),
      k, "knnJoin", maxPairs)

  /** [[knnJoin]] blocked by [[twoLevelAssign]] — all-neighbors
    * retrieval that keeps working where √n outgrows `maxSeeds`. Same
    * rank rule and budget; the assignment is pinned once
    * (localCheckpoint) for the budget check and both join sides. */
  def knnJoinTwoLevel(embeddings: DataFrame, idCol: String,
      vecCol: String, k: Int, maxSeeds: Int = 4096,
      maxPairs: Long = DefaultPairBudget, oversample: Int = 2): DataFrame =
    knnOnAssigned(
      twoLevelAssign(embeddings, idCol, vecCol, maxSeeds, oversample)
        .localCheckpoint(),
      k, "knnJoinTwoLevel", maxPairs)

  private def knnOnAssigned(assigned: DataFrame, k: Int, op: String,
      maxPairs: Long): DataFrame = {
    requirePairBudget(assigned, op, maxPairs)
    val a = assigned.alias("a"); val b = assigned.alias("b")
    val pairs = a.join(b,
        col("a.cell") === col("b.cell") && col("a.id") =!= col("b.id"))
      .select(col("a.id").as("id"), col("b.id").as("neighbor_id"),
        round(cosine(col("a.vec"), col("b.vec")), 6).as("cosine"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    pairs.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** [[knnJoinTwoLevel]] with the multi-probe dial: each vector's
    * candidates come from its `nprobe` nearest fine cells
    * ([[twoLevelProbe]]), not just its own — recall rises along the
    * q191–q193 curve while the pair stream grows by at most the
    * probe factor, and [[requireProbePairBudget]] enforces the grown
    * budget BEFORE the join exactly like the single-probe family.
    * Shuffle profile: the probe side explodes to nprobe rows per
    * vector and exchanges on the probed cell; the owner side
    * exchanges on its one assigned cell — still never all-pairs.
    * Same rank rule (cosine DESC 6 dp, neighbor id ASC); nprobe=1
    * returns exactly [[knnJoinTwoLevel]]'s rows. */
  def knnJoinTwoLevelProbe(embeddings: DataFrame, idCol: String,
      vecCol: String, k: Int, nprobe: Int, maxSeeds: Int = 4096,
      maxPairs: Long = DefaultPairBudget, oversample: Int = 2): DataFrame = {
    val assigned = twoLevelProbe(embeddings, idCol, vecCol, nprobe,
      maxSeeds, oversample).localCheckpoint()
    requireProbePairBudget(assigned, "knnJoinTwoLevelProbe", maxPairs)
    val a = assigned.select(col("id"), col("vec"),
      explode(col("probe_cells")).as("_pcell"))
    val b = assigned.select(col("id").as("_nid"), col("vec").as("_nvec"),
      col("cell").as("_ncell"))
    val pairs = a.join(b,
        col("_pcell") === col("_ncell") && col("id") =!= col("_nid"))
      .select(col("id"), col("_nid").as("neighbor_id"),
        round(cosine(col("vec"), col("_nvec")), 6).as("cosine"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    pairs.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** [[requirePairBudget]] for the multi-probe rule: the implied
    * candidate stream is Σ over cells of probers × owners (the
    * [[probePairCost]] number), estimated from two cheap aggregations
    * before any join runs. */
  private def requireProbePairBudget(assigned: DataFrame, op: String,
      maxPairs: Long): Unit = {
    if (maxPairs == Long.MaxValue) return
    // one-pass estimate (r16): every probe-family assignment honors
    // probe_cells[0] == cell (sentinel rows carry cell=-1,
    // probe_cells=[-1]), so the prefix fusion's single posexplode
    // aggregation replaces probePairCost's two aggregations + join —
    // same Σ probers·owners, term for term (probePairCostPrefix doc).
    // A caller-built frame may break that contract (null, empty or
    // mismatched probe_cells): such a row still joins as an owner but
    // is not counted, so the same collect counts them and fails.
    val broken = assigned.agg(count(when(
      !(get(col("probe_cells"), lit(0)) <=> col("cell")), lit(1))).as("_broken"))
    val est = probePairCostPrefix(assigned, "cell", "probe_cells",
      Seq(Int.MaxValue)).crossJoin(broken).collect()(0)
    require(est.getLong(3) == 0L,
      s"$op: ${est.getLong(3)} rows break the probe contract " +
        "probe_cells[0] == cell (null, empty or mismatched probe_cells), " +
        "so the pair budget cannot be estimated")
    val pairs = if (est.isNullAt(2)) BigDecimal(0)
      else BigDecimal(est.getDecimal(2))
    require(pairs <= BigDecimal(maxPairs),
      s"$op: the probe rule implies $pairs candidate pairs (> maxPairs=" +
        s"$maxPairs). Lower nprobe, derive the blocking from corpus " +
        "size, or raise maxPairs deliberately.")
  }

  /** Contrastive training-pair mining over the same IVF blocking as
    * [[knnJoin]]: per anchor, up to `kPos` POSITIVES (highest-cosine
    * in-cell neighbors at or above `posMin`) and `kNeg` HARD
    * NEGATIVES — same-cell vectors at or below `negMax`, which is
    * exactly what makes them hard: they share the anchor's coarse
    * cluster but not its meaning. Negative choice is a deterministic
    * md5 rank (not a cosine rank — taking the HIGHEST sub-threshold
    * cosines would bias the margin), so the mined set is reproducible
    * under any partitioning. One cell exchange + one anchor exchange,
    * the [[knnJoin]] shuffle profile; label 1 = positive.
    */
  def contrastivePairs(embeddings: DataFrame, idCol: String,
      vecCol: String, centroids: Seq[Seq[Float]], kPos: Int, kNeg: Int,
      posMin: Double, negMax: Double,
      maxPairs: Long = DefaultPairBudget): DataFrame =
    contrastiveOnAssigned(Parallelism.ensure(
        embeddings.select(col(idCol).as("id"), col(vecCol).as("vec")))
      .select(col("id"), col("vec"),
        ivfAssign(col("vec"), centroids).as("cell")),
      kPos, kNeg, posMin, negMax, "contrastivePairs", maxPairs)

  /** [[contrastivePairs]] blocked by [[twoLevelAssign]] — the mining
    * op past the `maxSeeds` cap. Same positive/negative rules and
    * budget; assignment pinned once for its three consumers. */
  def contrastivePairsTwoLevel(embeddings: DataFrame, idCol: String,
      vecCol: String, kPos: Int, kNeg: Int, posMin: Double,
      negMax: Double, maxSeeds: Int = 4096,
      maxPairs: Long = DefaultPairBudget, oversample: Int = 2): DataFrame =
    contrastiveOnAssigned(
      twoLevelAssign(embeddings, idCol, vecCol, maxSeeds, oversample)
        .localCheckpoint(),
      kPos, kNeg, posMin, negMax, "contrastivePairsTwoLevel", maxPairs)

  private def contrastiveOnAssigned(assigned: DataFrame, kPos: Int,
      kNeg: Int, posMin: Double, negMax: Double, op: String,
      maxPairs: Long): DataFrame = {
    requirePairBudget(assigned, op, maxPairs)
    val a = assigned.alias("a"); val b = assigned.alias("b")
    val pairs = a.join(b,
        col("a.cell") === col("b.cell") && col("a.id") =!= col("b.id"))
      .select(col("a.id").as("id"), col("b.id").as("other_id"),
        round(cosine(col("a.vec"), col("b.vec")), 6).as("cosine"))
    val wPos = org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
      .orderBy(col("cosine").desc, col("other_id"))
    val wNeg = org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
      .orderBy(md5(concat_ws("|", col("id"), col("other_id"))), col("other_id"))
    val pos = pairs.where(col("cosine") >= posMin)
      .withColumn("rank", row_number().over(wPos))
      .where(col("rank") <= kPos).withColumn("label", lit(1))
    val neg = pairs.where(col("cosine") <= negMax)
      .withColumn("rank", row_number().over(wNeg))
      .where(col("rank") <= kNeg).withColumn("label", lit(0))
    pos.unionByName(neg)
  }

  /** Embedding-space test-set decontamination — the semantic twin of
    * [[graft.ops.DedupOps.decontaminate]]'s n-gram rule: a corpus
    * vector is contaminated when its cosine to ANY eval vector
    * reaches `threshold`. Blocking is the same nearest-literal-
    * centroid cell assignment [[semDedup]] uses, so only same-cell
    * pairs are ever compared; near-duplicates straddling a cell
    * boundary are the rule's accepted recall loss (probe-widening
    * raises recall at linear cost, same curve as IVF nprobe).
    *
    * Scale shape: the eval set is tiny next to the corpus, so its
    * (cell, vec) table broadcasts and the corpus side is one map-side
    * join probe — no corpus shuffle, no all-pairs. Returns every
    * corpus row with its cell and a kept flag (kept = 0 is the
    * contaminated set, the audit artifact decontamination runs keep).
    */
  def semanticDecontaminate(corpus: DataFrame, eval: DataFrame,
      idCol: String, vecCol: String, centroids: Seq[Seq[Float]],
      threshold: Double): DataFrame = {
    def assigned(df: DataFrame) = Parallelism.ensure(
        df.select(col(idCol).as("id"), col(vecCol).as("vec")))
      .select(col("id"), col("vec"), ivfAssign(col("vec"), centroids).as("cell"))
    val evalCells = broadcast(
      assigned(eval).select(col("cell"), col("vec").as("_ev")))
    val contaminated = assigned(corpus)
      .join(evalCells, "cell")
      .where(round(cosine(col("vec"), col("_ev")), 6) >= threshold)
      .select(col("id")).distinct()
    assigned(corpus)
      .join(contaminated.withColumn("_hit", lit(true)), Seq("id"), "left")
      .select(col("id"), col("cell"), col("_hit").isNull.as("kept"))
  }

  /** All-pairs top neighbors within LSH buckets — the corpus-scale
    * "find my duplicates" shape: bucket first (shuffle on bucket id),
    * pair only within buckets, never a cross join.
    */
  def bucketedNeighborPairs(
      embeddings: DataFrame, idCol: String, vecCol: String,
      planes: Int = 8, minCosine: Double = 0.9): DataFrame = {
    // hyperplanes bake as literals; width read once from the data
    val dims = embeddings.select(size(col(vecCol))).first().getInt(0)
    val withBucket = Parallelism.ensure(
        embeddings.select(col(idCol).as("id"), col(vecCol).as("vec")))
      .select(col("id"), col("vec"),
        srpBucket(col("vec"), planes, dims).as("bucket"))
    val a = withBucket.alias("a"); val b = withBucket.alias("b")
    a.join(b, col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        round(cosine(col("a.vec"), col("b.vec")), 6).as("cosine"))
      .where(col("cosine") >= minCosine)
  }

  /** Count-derived SRP plane width: planes = max(minPlanes, ⌈log₂ n⌉)
    * — the [[sqrtSeedCentroids]] discipline applied to the SRP
    * family. With 2^planes ≥ n buckets the expected in-bucket pair
    * stream n²/2^planes is ≤ n BY CONSTRUCTION, so the fixed-plane
    * spelling's declared quadratic (SCALING round 13, q34:
    * n²/2^planes with 2^planes a constant) holds ~linear instead.
    * A pure function of COUNT, so any engine — including a SQL
    * oracle (`greatest(minPlanes, ceil(log2(count(*))))`) —
    * re-derives the identical width and therefore the identical
    * bucketing. Integer-exact: ⌈log₂ n⌉ = 64 − nlz(n−1) for n ≥ 2,
    * no float log to disagree with the oracle at power-of-two
    * boundaries (C log2 is exact on powers of two, so the two
    * spellings agree everywhere).
    */
  def selfScalingPlanes(n: Long, minPlanes: Int = 8): Int = {
    require(minPlanes >= 1 && minPlanes <= 62,
      "selfScalingPlanes: minPlanes must be in [1, 62]")
    val ceilLog2 =
      if (n <= 1L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(n - 1L)
    // 62-plane ceiling keeps the packed bucket id a positive Long
    // (n past 2^62 has outgrown a single-column bucket id anyway)
    math.min(62, math.max(minPlanes, ceilLog2))
  }

  /** [[bucketedNeighborPairs]] with the plane count derived from the
    * corpus COUNT ([[selfScalingPlanes]]) instead of fixed by the
    * caller — the self-scaling spelling of the SRP near-dup surface:
    * the pair stream stays ≤ n in expectation at ANY corpus size, so
    * the decade law is ~linear by construction rather than
    * n²/constant. The cost is recall — each extra plane halves the
    * chance a true near-dup pair co-buckets — bought back, when the
    * use is retrieval rather than dedup blocking, by the Hamming-1
    * multi-probe ([[annTopK]]'s `probe` dial) or by the declared
    * retrieval surface ([[ivfProbe]] at [[retrievalNprobe]]).
    */
  def bucketedNeighborPairsAuto(
      embeddings: DataFrame, idCol: String, vecCol: String,
      minCosine: Double = 0.9, minPlanes: Int = 8): DataFrame = {
    val planes = selfScalingPlanes(
      embeddings.select(col(idCol)).count(), minPlanes)
    bucketedNeighborPairs(embeddings, idCol, vecCol, planes, minCosine)
  }

  private def stampedStore(df: DataFrame, idCol: String, vecCol: String,
      part: Column, gen: Long): DataFrame = {
    val stamped = df.select(col(idCol), col(vecCol), lit(gen).as("_gen"), part)
    // ONE hash shuffle on the partition key before the dynamic-
    // partition write: without it every write task emits a part file
    // into every cell it touches — tasks × cells files per write
    // (measured: the q200 √n-cell store at 10x wrote 143 dirs × 32
    // files ≈ 4.6k files and the write dominated the row at 10.1s;
    // clustered, each cell lands in exactly one task ≈ one file per
    // cell). A probe then opens O(generations) files per probed cell
    // instead of O(generations × tasks) — the small-files arithmetic
    // that decides whether a 100 TB store's read path survives its
    // own maintenance schedule.
    stamped.repartition(col(stamped.columns.last))
  }

  /** Merge-on-read over the probed slice: one id may carry several
    * generations after appends — keep the latest. The groupBy
    * shuffles only the directory-pruned probe slice (the cell filter
    * runs first), never the store.
    */
  private def latestVersions(slice: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    slice.groupBy(col(idCol))
      .agg(max_by(col(vecCol), col("_gen")).as(vecCol))

  /** Materialises the coarse-quantizer cell as a PARTITION COLUMN of
    * the embedding store, so a probe reads only its nprobe nearest
    * cells' directories. Same literal-centroid assignment as the
    * in-memory path — layout and query cannot disagree.
    *
    * Stores carry a `_gen` generation column (0 for the initial
    * write): the store is append-only with merge-on-read — the same
    * semantics as the warehouse sink's raw table + latest view — so
    * a daily embedding delta is [[appendIvfPartitioned]], never a
    * rebuild. Generations must be distinct per append (latest-wins
    * needs a total order per id).
    */
  def writeIvfPartitioned(embeddings: DataFrame, idCol: String,
      vecCol: String, centroids: Seq[Seq[Float]], path: String): Unit =
    stampedStore(embeddings, idCol, vecCol,
      ivfAssign(col(vecCol), centroids).as("cell"), gen = 0L)
      .write.partitionBy("cell").mode("overwrite").parquet(path)

  /** Appends a generation of vectors to a cell-partitioned store: the
    * delta lands in its cells via dynamic-partition append; read
    * resolves upserts latest-wins. Centroids stay FROZEN across appends
    * (standard IVF practice — retraining reassigns every cell, i.e.
    * is a rebuild); drift is absorbed by nprobe until the next
    * offline retrain + [[writeIvfPartitioned]].
    */
  def appendIvfPartitioned(delta: DataFrame, idCol: String,
      vecCol: String, centroids: Seq[Seq[Float]], path: String,
      gen: Long): Unit =
    stampedStore(delta, idCol, vecCol,
      ivfAssign(col(vecCol), centroids).as("cell"), gen)
      .write.partitionBy("cell").mode("append").parquet(path)

  /** IVF top-k against a cell-partitioned store written by
    * [[writeIvfPartitioned]] — [[ivfTopK]] semantics, directory-pruned.
    * nprobe defaults to the declared retrieval operating point
    * ([[retrievalNprobe]]), so a store consumer gets the measured
    * ⌈0.55·k⌉ dial unless they dial it themselves.
    */
  def ivfTopKPartitioned(
      spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String, vecCol: String,
      query: Seq[Float], centroids: Seq[Seq[Float]],
      k: Int, nprobe: Int = 0): DataFrame = {
    val probeCells = ivfCellOf(query, centroids)
      .take(resolveNprobe(nprobe, centroids.size, "ivfTopKPartitioned"))
    val q = lit(query.toArray)
    latestVersions(spark.read.parquet(path)
        .where(col("cell").isin(probeCells: _*)), idCol, vecCol)
      .select(col(idCol), round(cosine(col(vecCol), q), 6).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** Folds the append log: keeps one row per id (latest `_gen`,
    * which also re-homes a moved id into the partition its CURRENT
    * vector assigns to), restoring exact probe semantics after a
    * run of appends — the ANN store's analogue of the warehouse
    * sink's compaction. The surviving generation number is
    * preserved so appends made after a compaction still win.
    *
    * Rewrites through [[rewriteStore]]'s two-rename swap.
    */
  def compactIvfPartitioned(spark: org.apache.spark.sql.SparkSession,
      path: String, idCol: String, vecCol: String,
      centroids: Seq[Seq[Float]]): Unit =
    rewriteStore(spark, path) { staging =>
      spark.read.parquet(path)
        .groupBy(col(idCol))
        .agg(max_by(struct(col(vecCol), col("_gen")), col("_gen")).as("_v"))
        .select(col(idCol), col("_v")(vecCol).as(vecCol),
          col("_v")("_gen").as("_gen"))
        .withColumn("cell", ivfAssign(col(vecCol), centroids))
        .write.partitionBy("cell").mode("overwrite").parquet(staging)
    }

  /** The append-only stores' compaction swap (ANN stores here, the
    * LSH store in [[DedupOps.compactLshStore]]): `write` fills the
    * sibling staging directory `<path>_compacting` from the store,
    * then two renames swap it in (old aside to `<path>_prev`,
    * staging in) and the old copy is deleted. No byte of the store
    * is deleted before its replacement is complete, so every crash
    * window leaves a full copy on disk — the live store, or (for a
    * crash between the renames) the `_prev` + staging pair, which the
    * next run sweeps. Hadoop FileSystem API, so any supported
    * filesystem works.
    *
    * The warehouse sink publishes its baselines differently (one new
    * generation directory per compaction, older ones deleted after):
    * its reader must never see "no baseline" after a vacuum, which
    * the window between these two renames would show. */
  private[ops] def rewriteStore(spark: org.apache.spark.sql.SparkSession,
      path: String)(write: String => Unit): Unit = {
    import org.apache.hadoop.fs.Path
    val (live, staging, prev) =
      (new Path(path), new Path(path + "_compacting"), new Path(path + "_prev"))
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // sweep leftovers from an earlier crashed compaction before
    // reading: a `_prev` here means the last swap completed its
    // first rename only — restore it as the store and retry cleanly
    if (fs.exists(prev)) {
      if (!fs.exists(live)) fs.rename(prev, live)
      else fs.delete(prev, true)
    }
    fs.delete(staging, true)
    write(staging.toString)
    if (!fs.rename(live, prev))
      throw new IllegalStateException(
        s"compaction could not move $path aside; store untouched")
    if (!fs.rename(staging, live)) {
      fs.rename(prev, live) // roll back; compacted copy kept
      throw new IllegalStateException(
        s"compaction swap failed; store restored, compacted copy at $staging")
    }
    fs.delete(prev, true)
  }
}
