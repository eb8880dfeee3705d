package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`):
  * brute-force cosine top-k as the exactness baseline, sign-LSH bucketing
  * and IVF (inverted-file) probing as the scale paths.
  *
  * Scale notes (100 TB): brute force is one scan with a top-k heap
  * (TakeOrderedAndProject) — correct but O(corpus) per query. Sign-LSH
  * assigns each vector a small bucket key in the same scan, so near-dup
  * pair generation shuffles on the bucket key and never crosses buckets.
  * IVF restricts a query to its nearest centroid's cluster — the classic
  * recall/cost trade — and the cluster assignment is a codegen'd per-row
  * argmax over the driver-side centroid list (a plan literal): a pure
  * projection fused into the scan, no shuffle at any corpus size.
  */
object Similarity {

  /** Σ aᵢbᵢ — native codegen'd expression (graft.expressions.VectorDot).
    * The HOF form ([[dotHof]]) interprets its lambda per element and
    * breaks whole-stage codegen; identical results, ~order-of-magnitude
    * slower per row at scale. */
  def dot(a: Column, b: Column): Column =
    graft.expressions.VectorExpressions.vectorDot(a, b)

  /** Composable higher-order-function form, kept as the reference
    * implementation the native expression is tested against. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm2(a: Column): Column = dot(a, a)

  /** Cosine in one array traversal, NULL on zero norms (portable: DuckDB
    * would yield NaN/Inf and the engines would sort degenerate rows
    * differently). Native expression; [[cosineHof]] is the composable
    * equivalent. */
  def cosine(a: Column, b: Column): Column =
    graft.expressions.VectorExpressions.cosineSim(a, b)

  def cosineHof(a: Column, b: Column): Column = {
    val d = dotHof(a, a) * dotHof(b, b)
    dotHof(a, b) / when(d <= 0, lit(null)).otherwise(sqrt(d))
  }

  /** Brute-force cosine top-k against one query vector (broadcast). */
  def cosineTopK(df: DataFrame, idCol: String, vecCol: String,
                 query: DataFrame, k: Int): DataFrame =
    df.crossJoin(broadcast(query.select(col(vecCol).as("_qvec"))))
      .select(col(idCol), round(cosine(col(vecCol), col("_qvec")), 4).as("cos_sim"))
      .filter(col("cos_sim").isNotNull)
      .orderBy(desc("cos_sim"), asc(idCol))
      .limit(k)

  /** MaxSim late-interaction scoring (the ColBERT shape): document and
    * query are MULTI-vector — `m` sub-vectors of `dims/m` components
    * carved from the embedding column — and the score is
    * Σ over query sub-vectors of (max over doc sub-vectors of cosine):
    * each query "token" finds its best-matching doc "token"
    * independently, which is what lets late-interaction retrieval beat
    * single-vector cosine on multi-topic documents.
    *
    * Determinism contract: the per-token maxes are summed in SCALED
    * INTEGER form — Σ round(max·10⁴) — then closed with ONE division.
    * A raw double Σ over the m maxes is addition-order-dependent in the
    * last ulp, and a SQL oracle's aggregate feeds its sum in whatever
    * order the (vec_id, t) hash-aggregate emits — the integer sum is
    * order-free, so both engines produce the same bits (the classifier
    * permille doctrine applied to floats). Zero-norm sub-vectors yield
    * NULL cosines which `greatest` skips; a query token with NO valid
    * doc token contributes 0.
    *
    * Scale shape: one corpus scan, query row broadcast, per-row work
    * m·dims inside whole-stage codegen (m² cosines of dims/m each),
    * top-k dies in TakeOrderedAndProject. No shuffle at all. */
  def maxSimTopK(df: DataFrame, idCol: String, vecCol: String,
                 query: DataFrame, dims: Int, m: Int, k: Int): DataFrame = {
    require(m >= 2 && dims % m == 0, s"dims=$dims must split into m=$m sub-vectors")
    val sub = dims / m
    val joined = df.crossJoin(broadcast(query.select(col(vecCol).as("_qvec")).limit(1)))
    val scaled = (0 until m).map { t =>
      val qt = slice(col("_qvec"), t * sub + 1, sub)
      val best = greatest((0 until m).map { j =>
        cosine(slice(col(vecCol), j * sub + 1, sub), qt)
      }: _*)
      round(coalesce(best, lit(0.0)) * 10000)
    }.reduce(_ + _)
    joined.select(col(idCol), (scaled / 10000.0).as("maxsim"))
      .orderBy(desc("maxsim"), asc(idCol))
      .limit(k)
  }

  /** Matryoshka (prefix-dimension) retrieval funnel: coarse-rank the
    * whole corpus on the first `prefixDims` dimensions — the cheap scan
    * an MRL-trained embedding makes meaningful, `prefixDims/dims` of the
    * IO and arithmetic — then re-rank only the `kCand` shortlist with
    * full-dimension cosine. Returns the final top `k` as
    * (id, cos_prefix, cos_full, rank), rank by full cosine (ties to the
    * smaller id), so the output records how much the coarse order lied.
    *
    * Scale shape: one corpus scan computing the prefix cosine against
    * the broadcast query + a TakeOrdered(kCand); only ≤ kCand rows reach
    * the full-dimension re-rank (a second cosine on the shortlist rows
    * themselves — no corpus re-scan, the full vector rides the first
    * projection). At 100 TB pair this with the stored-codes IVF tier:
    * prefix scan over cells, full re-rank over survivors. */
  def matryoshkaTopK(df: DataFrame, idCol: String, vecCol: String,
                     query: DataFrame, prefixDims: Int, kCand: Int, k: Int): DataFrame = {
    require(prefixDims > 0 && kCand >= k && k > 0,
      s"need 0 < k <= kCand and prefixDims > 0, got prefixDims=$prefixDims kCand=$kCand k=$k")
    val q = query.select(slice(col(vecCol), 1, prefixDims).as("_qp"), col(vecCol).as("_qf"))
    val shortlist = df.crossJoin(broadcast(q))
      .select(col(idCol), col(vecCol), col("_qf"),
        round(cosine(slice(col(vecCol), 1, prefixDims), col("_qp")), 4).as("cos_prefix"))
      .filter(col("cos_prefix").isNotNull)
      .orderBy(desc("cos_prefix"), asc(idCol))
      .limit(kCand)
    shortlist
      .select(col(idCol), col("cos_prefix"),
        round(cosine(col(vecCol), col("_qf")), 4).as("cos_full"))
      .orderBy(desc("cos_full"), asc(idCol))
      .limit(k)
      .withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(desc("cos_full"), asc(idCol))))
  }

  /** Semantic decontamination — per corpus vector, the MAX cosine to any
    * vector of a reference (evaluation) set, plus the ≥-threshold flag:
    * the embedding-space twin of [[TextOps.contamination]] (n-gram
    * overlap can't see paraphrases; embedding similarity can). The eval
    * set is the small side by nature (eval suites are thousands of rows)
    * so it BROADCASTS and the corpus streams through one scan — the max
    * dies in a map-side partial aggregate, nothing corpus-sized
    * shuffles. At an eval size where per-row × |eval| cosines dominate,
    * escalate to the IVF-cell route ([[knnJoinBetween]]) and take each
    * row's top-1 instead.
    *
    * Output is a FULL-corpus annotation: every corpus id gets a row, so
    * `keep rows where contaminated = false` is a safe downstream filter.
    * Rows whose embedding is null/malformed (cosine null against every
    * eval vector) — and every row when the eval set is empty — come back
    * as (max_eval_sim = null, contaminated = false): no-evidence means
    * not-flagged, never silently dropped. */
  def semanticContamination(corpus: DataFrame, idCol: String, vecCol: String,
                            evalSet: DataFrame, threshold: Double): DataFrame = {
    val sims = corpus.crossJoin(broadcast(evalSet.select(col(vecCol).as("_qvec"))))
      .select(col(idCol), round(cosine(col(vecCol), col("_qvec")), 4).as("_sim"))
      .filter(col("_sim").isNotNull)
      .groupBy(idCol)
      .agg(max(col("_sim")).as("max_eval_sim"))
    corpus.select(col(idCol))
      .join(sims, Seq(idCol), "left_outer")
      .select(col(idCol), col("max_eval_sim"),
        coalesce(col("max_eval_sim") >= threshold, lit(false)).as("contaminated"))
  }

  /** Per-vector symmetric int8 quantization (SQ8): the storage/scan
    * format for billion-vector corpora — 4× less IO than float32, and
    * the per-vector scale cancels inside cosine so quantized vectors
    * compare without a side-car scale column. Codegen'd expression. */
  def quantizeInt8(vec: Column): Column =
    graft.expressions.VectorExpressions.int8Quantize(vec)

  /** Cosine over two SQ8 vectors — integer-exact sums, one traversal. */
  def cosineInt8(a: Column, b: Column): Column =
    graft.expressions.VectorExpressions.int8CosineSim(a, b)

  /** [[cosineTopK]] over the quantized lattice: the same one-scan top-k
    * shape, but each row compares 64 bytes instead of 64 floats. Recall
    * loss vs exact cosine is the standard SQ8 trade (the rounded lattice
    * perturbs each cosine by O(1/127)); re-rank the top-k' > k survivors
    * with [[cosine]] when exactness matters. */
  def cosineTopKQuantized(df: DataFrame, idCol: String, vecCol: String,
                          query: DataFrame, k: Int): DataFrame =
    df.crossJoin(broadcast(query.select(quantizeInt8(col(vecCol)).as("_qq"))))
      .select(col(idCol),
        round(cosineInt8(quantizeInt8(col(vecCol)), col("_qq")), 4).as("cos_sim"))
      .filter(col("cos_sim").isNotNull)
      .orderBy(desc("cos_sim"), asc(idCol))
      .limit(k)

  /** Sign-LSH bucket key: the sign bits of the first `p` dimensions as a
    * '0'/'1' string (a fixed axis-projection hyperplane family —
    * deterministic, engine-portable, and a real random-hyperplane LSH for
    * axis-symmetric embedding distributions). A SKEWED real-world
    * distribution (boilerplate mass in one region) concentrates a large
    * corpus fraction into one orthant; the bounded collect absorbs that
    * at recall cost (PLANS.md, "Skewed-embedding ANN": an 80%-hot corpus
    * stays balanced and
    * memory-capped, truncation counted) — prefer
    * [[semanticNearDupPairs]] there, whose IVF cells follow the
    * distribution instead of fixed axes. */
  def signBucket(vec: Column, p: Int): Column =
    concat((0 until p).map(i =>
      when(element_at(vec, i + 1) >= 0, "1").otherwise("0")): _*)

  /** Near-duplicate pairs: bucket by sign-LSH, pair within bucket, keep
    * cosine above `minCos`. Returns (id_a, id_b, cos_sim).
    *
    * Scale shape (same construction as [[Dedup.lshCandidatePairs]]): ONE
    * shuffle forms the buckets AND applies the cap — the bounded aggregate
    * ([[graft.expressions.BoundedSortedCollect]]) keeps each bucket's
    * `maxBucket` smallest ids with an O(maxBucket) buffer at every stage,
    * and the i<j combinations are emitted from the array in place. A
    * skewed embedding distribution (all boilerplate vectors in one
    * orthant) can put a large corpus fraction in one of the 2^p buckets;
    * the cap bounds that bucket's work at O(maxBucket²) — and now also its
    * memory — instead of quadratic in the corpus. Truncation is surfaced:
    * pass `droppedAcc` to count ids the cap excluded (pairs involving them
    * are not emitted).
    * The pair skeleton carries ONLY ids — vectors join back per side
    * afterwards (narrow joins; AQE broadcasts the small pair frame), so
    * embedding payloads never ride the quadratic path.
    */
  def nearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                   p: Int, minCos: Double, maxBucket: Int = 1000,
                   droppedAcc: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame =
    nearDupPairsBy(df, idCol, vecCol, signBucket(col(vecCol), p), minCos, maxBucket, droppedAcc)

  /** The bucket-generalized core of [[nearDupPairs]]: pair within any
    * per-row bucket key (sign-LSH orthant, IVF cell, …), verify with
    * exact cosine. Each row must map to exactly ONE bucket, so pairs are
    * born unique. */
  def nearDupPairsBy(df: DataFrame, idCol: String, vecCol: String,
                     bucket: Column, minCos: Double, maxBucket: Int,
                     droppedAcc: Option[org.apache.spark.util.LongAccumulator]): DataFrame = {
    val ids = col("ids")
    val pairs = df
      .select(col(idCol).as("id"), bucket.as("bucket"))
      .groupBy("bucket")
      .agg(graft.expressions.BoundedCollect
        .boundedSortedCollect(col("id"), maxBucket, droppedAcc).as("ids"))
      .filter(size(ids) >= 2)
      .select(explode(flatten(transform(ids, (x, i) =>
        transform(slice(ids, i + 2, size(ids)),
          y => struct(x.as("id_a"), y.as("id_b")))))).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
    // Each vector lives in exactly one bucket, so pairs are already
    // unique. NO persist: a DataFrame-level cache is registered in the
    // session CacheManager and outlives the call (a leak per invocation);
    // the three references to the pair subtree share one canonicalized
    // shuffle, which ReusedExchange dedupes within the query instead.
    val cand = pairs.select(explode(array(col("id_a"), col("id_b"))).as("id")).distinct()
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .join(cand, Seq("id"), "left_semi")
    pairs
      .join(vecs.select(col("id").as("id_a"), col("v").as("v_a")), Seq("id_a"))
      .join(vecs.select(col("id").as("id_b"), col("v").as("v_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(cosine(col("v_a"), col("v_b")), 4).as("cos_sim"))
      .filter(col("cos_sim") > minCos)
  }

  /** Semantic near-dup pairs (the pair half of SemDeDup-style embedding
    * dedup): bucket = the row's IVF cell instead of a sign-LSH orthant,
    * so "near" is judged among semantic neighbors rather than within an
    * orthant — then exact cosine verifies each candidate. Same scale
    * shape as [[nearDupPairsBy]]: one shuffle on the cell id, bounded
    * buckets, ids-only pair skeleton. Cell granularity is the recall/cost
    * dial — nlist grows with the corpus so cells stay bounded, exactly
    * like [[ivfTopK]]'s corpus side. */
  def semanticNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                           centroids: DataFrame, centroidIdCol: String,
                           minCos: Double, maxBucket: Int = 1000,
                           droppedAcc: Option[org.apache.spark.util.LongAccumulator] = None)
      : DataFrame = {
    val cents: Seq[(Long, Seq[Float])] = centroids
      .select(col(centroidIdCol).cast("long"), col(vecCol).cast("array<float>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toSeq))
      .toSeq
    nearDupPairsBy(df, idCol, vecCol,
      nearestCentroid(col(vecCol), cents, round4 = true),
      minCos, maxBucket, droppedAcc)
  }

  /** Whole semantic-dedup pipeline: cell-bucketed cosine pairs →
    * connected components → keep one canonical row per family (smallest
    * id) plus every never-paired row. The embedding-space twin of
    * `Dedup.lshCandidatePairs` → `duplicateClusters` → `keepCanonical`. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    centroids: DataFrame, centroidIdCol: String,
                    minCos: Double, maxBucket: Int = 1000): DataFrame = {
    val pairs = semanticNearDupPairs(df, idCol, vecCol, centroids, centroidIdCol,
      minCos, maxBucket)
    Dedup.keepCanonical(df, idCol, Dedup.duplicateClusters(pairs, "id_a", "id_b"))
  }

  /** Nearest-centroid id per row (the IVF assignment argmax) as ONE
    * codegen'd per-row expression over a driver-side centroid list — no
    * crossJoin, no row_number window, no Exchange of the corpus
    * ([[graft.expressions.NearestCentroids]]). `cents` need not be sorted;
    * ties resolve to the smallest centroid id. */
  def nearestCentroid(vec: Column, cents: Seq[(Long, Seq[Float])],
                      round4: Boolean): Column = {
    val sorted = cents.sortBy(_._1)
    graft.expressions.VectorExpressions
      .nearestCentroids(vec, sorted.map(_._1), sorted.map(_._2), n = 1, round4 = round4)
      .getItem(0)
  }

  /** Cluster-balanced (diversity-preserving) sampling — the embedding-
    * space curation draw: assign every vector to its nearest centroid
    * (same argmax + round-4 tie semantics as the IVF family) and keep at
    * most `perCell` ids per cell in md5 order. A global uniform sample
    * draws proportionally to cluster mass and starves small clusters;
    * the per-cell budget keeps every region of the space represented —
    * the shape cluster-curation pipelines use to rebalance web-scale
    * corpora. Returns `(cid, <idCol>)`.
    *
    * Scale shape: assignment is ONE codegen'd per-row expression over
    * driver-side centroid literals (no crossJoin, no window, no corpus
    * shuffle); the per-cell cut is the bounded-collect heap — per-cell
    * state is O(perCell) and a hot cell collapses map-side, so the one
    * exchange carries at most nCells × perCell candidate structs. */
  def clusterBalancedSample(df: DataFrame, idCol: String, vecCol: String,
                            centroids: DataFrame, centroidIdCol: String,
                            perCell: Int): DataFrame = {
    val cents: Seq[(Long, Seq[Float])] = centroids
      .select(col(centroidIdCol).cast("long"), col(vecCol).cast("array<float>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toSeq))
      .toSeq
    require(cents.nonEmpty,
      "clusterBalancedSample needs >= 1 centroid (empty centroid frame)")
    val assigned = df.select(
      nearestCentroid(col(vecCol), cents, round4 = true).as("cid"), col(idCol))
    Sharding.samplePerGroup(assigned, "cid", idCol, perCell)
  }

  /** Ids of the `n` nearest centroids (sim desc, id asc) — the query-side
    * probe list. */
  def topCentroids(vec: Column, cents: Seq[(Long, Seq[Float])], n: Int,
                   round4: Boolean): Column = {
    val sorted = cents.sortBy(_._1)
    graft.expressions.VectorExpressions
      .nearestCentroids(vec, sorted.map(_._1), sorted.map(_._2), n = n, round4 = round4)
  }

  /** Grouping of the fine centroids under `nCoarse` coarse centroids —
    * the driver-side index [[TwoLevelNearestCentroids]] ships to
    * executors. Pure-Scala Lloyd's over the nlist fine centroids (cosine
    * assignment with the same tie semantics as the expression,
    * arithmetic-mean re-center, strided deterministic seed): nlist ≤ 10⁵
    * points, so training is milliseconds of driver time. Empty coarse
    * cells keep their previous position and end up with no fine members
    * (harmless: never the argmax of anything). */
  def buildCoarseIndex(cents: Seq[(Long, Seq[Float])], nCoarse: Int, iters: Int = 3)
      : (Seq[Seq[Float]], Seq[Seq[Long]], Seq[Seq[Seq[Float]]]) = {
    val sorted = cents.sortBy(_._1)
    val ids = sorted.map(_._1).toArray
    val vecs = sorted.map(_._2.toArray).toArray
    val k = math.min(nCoarse, vecs.length)
    val dims = vecs.head.length

    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1
      }
      val d = na * nb
      if (d <= 0) -2.0 else dot / math.sqrt(d)
    }

    // strided seed: evenly spaced fine centroids, deterministic
    var coarse = Array.tabulate(k)(c => vecs(c * vecs.length / k).clone())
    var assign = new Array[Int](vecs.length)
    for (_ <- 0 until iters) {
      var v = 0
      while (v < vecs.length) {
        var best = 0; var bestSim = -3.0
        var c = 0
        while (c < k) {
          val s = cos(vecs(v), coarse(c))
          if (s > bestSim) { bestSim = s; best = c }
          c += 1
        }
        assign(v) = best
        v += 1
      }
      val sums = Array.fill(k)(new Array[Double](dims))
      val counts = new Array[Int](k)
      v = 0
      while (v < vecs.length) {
        val c = assign(v); counts(c) += 1
        var i = 0
        while (i < dims) { sums(c)(i) += vecs(v)(i); i += 1 }
        v += 1
      }
      coarse = Array.tabulate(k)(c =>
        if (counts(c) == 0) coarse(c)
        else Array.tabulate(dims)(i => (sums(c)(i) / counts(c)).toFloat))
    }
    val byBranch = assign.zipWithIndex.groupBy(_._1)
    (coarse.map(_.toSeq).toSeq,
      (0 until k).map(c => byBranch.get(c).map(_.map(p => ids(p._2)).toSeq).getOrElse(Nil)),
      (0 until k).map(c => byBranch.get(c).map(_.map(p => vecs(p._2).toSeq).toSeq).getOrElse(Nil)))
  }

  /** Bulk k-NN self-join: the `k` nearest neighbors of EVERY row (not
    * one query's top-k, not a similarity threshold) — the primitive
    * behind semantic dedup, nearest-neighbor labeling, and hard-negative
    * mining at corpus scale. Brute force is all-pairs O(n²); this routes
    * through the IVF cells: every row is ASSIGNED to its one cell, and
    * PROBES its `probes` nearest cells, so candidate pairs are (probe
    * side ⋈ assigned side) within a cell — the join fan-out is bounded
    * by probes × cell size, and everything shuffles on the cell id, then
    * on the query id for the per-row top-k window. Recall follows the
    * IVF trade (probes is the dial); a row's pair set is exact within
    * its probed cells. */
  def knnJoin(df: DataFrame, idCol: String, vecCol: String,
              centroids: DataFrame, centroidIdCol: String,
              k: Int, probes: Int = 2): DataFrame =
    knnJoinBetween(df, df, idCol, vecCol, centroids, centroidIdCol, k, probes)

  /** Two-frame k-NN join: the `k` nearest CORPUS rows of every QUERY row
    * (self-join when both frames coincide — [[knnJoin]]). The asymmetric
    * form is the nearest-neighbor labeling / retrieval shape: queries
    * probe, corpus is assigned, cells meet in the middle. */
  def knnJoinBetween(queries: DataFrame, corpus: DataFrame,
                     idCol: String, vecCol: String,
                     centroids: DataFrame, centroidIdCol: String,
                     k: Int, probes: Int = 2): DataFrame =
    cellBoundedTopK(queries, corpus, idCol, vecCol, centroids, centroidIdCol,
      k, probes, band = None)

  /** Hard-negative mining — the retrieval/embedding-training curation
    * draw: for each query row, the `k` highest-cosine corpus rows whose
    * similarity falls INSIDE `(bandLo, bandHi]`. Above the band is a
    * positive or near-duplicate (training on it teaches the model
    * nothing — or worse, punishes a true match); below it is an easy
    * negative the model already separates. The band is applied to the
    * rounded score BEFORE the heap, so rank is dense within the band.
    *
    * Scale shape: identical to [[knnJoinBetween]] — cell-bucketed
    * candidate join, band filter map-side, O(k) bounded heap; the pair
    * frame dies in the partial aggregation. */
  def hardNegatives(queries: DataFrame, corpus: DataFrame,
                    idCol: String, vecCol: String,
                    centroids: DataFrame, centroidIdCol: String,
                    k: Int, bandLo: Double, bandHi: Double,
                    probes: Int = 2): DataFrame = {
    require(bandLo < bandHi, s"need bandLo < bandHi, got [$bandLo, $bandHi]")
    cellBoundedTopK(queries, corpus, idCol, vecCol, centroids, centroidIdCol,
      k, probes, band = Some((bandLo, bandHi)))
  }

  private def cellBoundedTopK(queries: DataFrame, corpus: DataFrame,
                              idCol: String, vecCol: String,
                              centroids: DataFrame, centroidIdCol: String,
                              k: Int, probes: Int,
                              band: Option[(Double, Double)]): DataFrame = {
    val cents: Seq[(Long, Seq[Float])] = centroids
      .select(col(centroidIdCol).cast("long"), col(vecCol).cast("array<float>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toSeq))
      .toSeq
    val assigned = corpus.select(col(idCol).as("id_b"), col(vecCol).as("_bvec"),
      nearestCentroid(col(vecCol), cents, round4 = true).as("_cid"))
    val probed = queries.select(col(idCol).as("id_a"), col(vecCol).as("_avec"),
      explode(topCentroids(col(vecCol), cents, probes, round4 = true)).as("_cid"))
    // Per-row top-k WITHOUT a window: row_number() needs the whole scored
    // pair frame shuffled AND sorted per id_a; the bounded aggregate keeps
    // each row's k best candidates in an O(k) heap with map-side partials,
    // so only ≤ k rows per (id_a, partition) ever reach the exchange —
    // at corpus scale the pair frame is the big thing, and it now dies in
    // the partial aggregation. Heap order = (-cos_sim, id_b): "smallest"
    // is highest similarity, ties to the smaller id (row_number parity).
    val scored = probed.join(assigned, Seq("_cid"))
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(cosine(col("_avec"), col("_bvec")), 4).as("cos_sim"))
      .filter(col("cos_sim").isNotNull)
    val banded = band match {
      case Some((lo, hi)) =>
        scored.filter(col("cos_sim") > lo && col("cos_sim") <= hi)
      case None => scored
    }
    banded
      .groupBy("id_a")
      .agg(graft.expressions.BoundedCollect.boundedSortedCollect(
        struct((-col("cos_sim")).as("nc"), col("id_b")), k).as("_top"))
      .select(col("id_a"), posexplode(col("_top")).as(Seq("_pos", "_t")))
      .select(col("id_a"), col("_t.id_b").as("id_b"),
        (-col("_t.nc")).as("cos_sim"),
        (col("_pos") + 1).cast("int").as("rank"))
  }

  /** k-NN majority-vote labeling: predict each query row's label from
    * its `k` nearest labeled corpus rows through the IVF cells — the
    * auto-labeling / weak-supervision primitive (label a new slice of
    * corpus from a labeled seed set). Vote ties break to the SMALLEST
    * label (deterministic, engine-portable). Returns
    * (id, pred_label, votes).
    *
    * Scale shape: [[knnJoinBetween]]'s bounded cell join, then the vote
    * is one hash aggregation per (query, label) and a `min(struct)`
    * argmax per query — map-side partials everywhere, no window. */
  def knnLabel(queries: DataFrame, corpus: DataFrame,
               idCol: String, vecCol: String, labelCol: String,
               centroids: DataFrame, centroidIdCol: String,
               k: Int, probes: Int = 2): DataFrame = {
    val neighbors = knnJoinBetween(queries, corpus, idCol, vecCol,
      centroids, centroidIdCol, k, probes)
    neighbors
      .join(corpus.select(col(idCol).as("id_b"), col(labelCol).as("_lbl")), Seq("id_b"))
      .groupBy(col("id_a"), col("_lbl"))
      .agg(count(lit(1)).as("_votes"))
      .groupBy(col("id_a").as(idCol))
      .agg(min(struct((-col("_votes")).as("nv"), col("_lbl"))).as("_top"))
      .select(col(idCol), col("_top._lbl").as("pred_label"),
        (-col("_top.nv")).as("votes"))
  }

  // ── Product quantization (PQ/ADC): the compression tier ─────────────
  //
  // SQ8 shrinks vectors 4×; PQ shrinks them to m BYTES (32× at
  // dims=64/m=8): each of m subspaces stores only the index of its
  // nearest codebook entry, and a query scans the codes with a
  // precomputed lookup table — m adds per row, no floats, no
  // multiplications (expressions.PQEncode / PQADCScore). This is the
  // standard billion-vector memory tier (IVF-PQ composes exactly like
  // ivfTopK(scoreQuantized): assignment picks cells, PQ codes score).

  /** Codebooks from `k` deterministic seed rows: codebook[j][c] is row
    * c's j-th subspace slice. Oracle-expressible (a SQL engine can slice
    * the same rows), so driver queries pin the whole encode+scan path;
    * [[trainPqCodebooks]] is the quality path. */
  def pqCodebooksFromRows(rows: Seq[Seq[Float]], m: Int): Seq[Seq[Seq[Float]]] = {
    require(rows.nonEmpty && rows.head.length % m == 0, "dims must divide into m subspaces")
    val sub = rows.head.length / m
    (0 until m).map(j => rows.map(_.slice(j * sub, (j + 1) * sub)))
  }

  /** Per-subspace Lloyd's (L2) over a driver-collected sample — the
    * trained-codebook quality path. Deterministic strided seed. */
  def trainPqCodebooks(df: DataFrame, vecCol: String, m: Int, k: Int,
                       iters: Int = 5, sampleN: Int = 10000): Seq[Seq[Seq[Float]]] = {
    val sample = df.select(col(vecCol)).limit(sampleN).collect()
      .map(_.getSeq[Float](0).toArray)
    require(sample.nonEmpty && sample.head.length % m == 0, "dims must divide into m subspaces")
    val sub = sample.head.length / m
    (0 until m).map { j =>
      val pts = sample.map(v => java.util.Arrays.copyOfRange(v, j * sub, (j + 1) * sub))
      val kk = math.min(k, pts.length)
      // strided seed with a +c skew so a periodic corpus (row i drawn
      // from cluster i mod p) can't alias every seed onto one cluster
      var cents = Array.tabulate(kk)(c =>
        pts(math.min(pts.length - 1, c * pts.length / kk + c)).clone())
      val assign = new Array[Int](pts.length)
      for (_ <- 0 until iters) {
        var p = 0
        while (p < pts.length) {
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < kk) {
            var d = 0.0; var t = 0
            while (t < sub) { val df2 = pts(p)(t).toDouble - cents(c)(t); d += df2 * df2; t += 1 }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          assign(p) = best; p += 1
        }
        val sums = Array.fill(kk)(new Array[Double](sub))
        val counts = new Array[Int](kk)
        p = 0
        while (p < pts.length) {
          val c = assign(p); counts(c) += 1
          var t = 0
          while (t < sub) { sums(c)(t) += pts(p)(t); t += 1 }
          p += 1
        }
        cents = Array.tabulate(kk)(c =>
          if (counts(c) == 0) cents(c)
          else Array.tabulate(sub)(t => (sums(c)(t) / counts(c)).toFloat))
      }
      cents.map(_.toSeq).toSeq
    }
  }

  /** PQ code column (binary, m bytes per row). */
  def pqEncode(vec: Column, codebooks: Seq[Seq[Seq[Float]]]): Column =
    graft.expressions.VectorExpressions.pqEncode(vec, codebooks, round4 = true)

  /** ADC top-k: encode the corpus (or scan a pre-encoded code column),
    * build the query's m × k inner-product LUT driver-side (terms on the
    * round4 lattice, like every cross-engine score here), and rank rows
    * by the summed table lookups. The corpus scan reads m bytes per row. */
  def pqAdcTopK(df: DataFrame, idCol: String, vecCol: String,
                codebooks: Seq[Seq[Seq[Float]]], query: DataFrame, k: Int): DataFrame = {
    val qv = query.select(col(vecCol).cast("array<float>")).head().getSeq[Float](0).toArray
    val m = codebooks.length
    val sub = qv.length / m
    val lut: Seq[Seq[Double]] = (0 until m).map { j =>
      codebooks(j).map { cent =>
        var d = 0.0; var t = 0
        while (t < sub) { d += qv(j * sub + t).toDouble * cent(t); t += 1 }
        java.math.BigDecimal.valueOf(d).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
      }
    }
    df.select(col(idCol),
      graft.expressions.VectorExpressions
        .pqAdcScore(pqEncode(col(vecCol), codebooks), lut).as("_s"))
      .select(col(idCol), round(col("_s"), 4).as("adc_score"))
      .filter(col("adc_score").isNotNull)
      .orderBy(desc("adc_score"), asc(idCol))
      .limit(k)
  }

  /** Two-level probe list: ids of the `n` nearest fine centroids searching
    * only the `branches` nearest coarse cells — O((√nlist)·dims) per row
    * at branches ≈ small, vs [[topCentroids]]' O(nlist·dims). Use the SAME
    * index for corpus assignment (n = 1) and query probing so both sides
    * agree on the partition. */
  def topCentroidsTwoLevel(vec: Column,
      index: (Seq[Seq[Float]], Seq[Seq[Long]], Seq[Seq[Seq[Float]]]),
      n: Int, branches: Int, round4: Boolean): Column =
    graft.expressions.VectorExpressions.twoLevelNearestCentroids(
      vec, index._1, index._2, index._3, n = n, branches = branches, round4 = round4)

  /** Lloyd's k-means over the embedding column, pure DataFrame ops:
    * seed with `k` deterministic rows, then iterate assign (per-row
    * codegen'd argmax over the driver-side centroid list — a pure
    * projection) → re-center (positional explode, per-(cluster, dim) mean,
    * re-assemble). The re-center groupBy partially aggregates map-side to
    * k × dims rows per partition, so the only exchange per iteration is
    * k × dims × partitions rows — independent of corpus size; centroids
    * stay driver-side (k × dims doubles). Returns (centroid_id, vec) for
    * [[ivfTopK]].
    */
  def trainCentroids(df: DataFrame, idCol: String, vecCol: String,
                     k: Int, iters: Int = 3): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._

    var centroids: Seq[(Long, Seq[Float])] = df
      .orderBy(col(idCol)).limit(k)
      .select(col(idCol), col(vecCol))
      .collect()
      .zipWithIndex
      .map { case (r, i) => (i.toLong, r.getSeq[Float](1).toSeq) }.toSeq

    for (_ <- 0 until iters) {
      val assigned = df.select(
        nearestCentroid(col(vecCol), centroids, round4 = false).as("_cid"),
        col(vecCol).as("_avec"))
      // re-center: positional mean per (cluster, dim)
      val means = assigned
        .select(col("_cid"), posexplode(col("_avec")).as(Seq("_pos", "_x")))
        .groupBy("_cid", "_pos")
        .agg(avg(col("_x")).as("_mean"))
        .collect()
        .groupBy(_.getLong(0))
        .map { case (cid, rows) =>
          (cid, rows.sortBy(_.getInt(1)).map(_.getDouble(2).toFloat).toSeq)
        }
      // keep a centroid's previous position if its cluster went empty
      centroids = centroids.map { case (cid, prev) => (cid, means.getOrElse(cid, prev)) }
    }
    centroids.toDF(idCol, vecCol)
      .select(col(idCol), col(vecCol).cast("array<float>").as(vecCol))
  }

  /** IVF probe: centroid table (tiny, broadcast) → assign every vector to
    * its nearest centroid by cosine → search only the query's `probes`
    * nearest clusters. Returns the top-k of the probed clusters.
    *
    * `probes` is the recall/cost dial (the standard IVF trade): 1 probe
    * scans ~1/nCentroids of the corpus; recall grows with probes and
    * reaches 1.0 at probes = nCentroids (== brute force). Measured on the
    * driver corpus in PLANS.md.
    */
  /** `scoreQuantized` composes the two scale paths the way a production
    * ANN deployment runs them (IVF-SQ8): float assignment picks the
    * probed clusters, then within-cluster scoring runs on the int8
    * lattice — the probed fraction of the corpus is scanned at 4×
    * less IO. Assignment stays float so cluster membership is identical
    * in both modes. */
  /** `coarseBranches > 0` switches assignment AND query probing to the
    * two-level coarse index (C = ⌈√nlist⌉ cells, searching that many
    * branches) — the required shape once nlist reaches the 10⁴–10⁵ a
    * billion-vector deployment wants, where the flat per-row argmax is
    * the scan bottleneck (900 rows/s at nlist=16384 vs 48k at 256;
    * PLANS.md, "Two-level IVF assignment"). Both sides share one index,
    * so the
    * search stays internally consistent (see
    * [[graft.expressions.TwoLevelNearestCentroids]]). */
  /** `pqCodebooks` switches within-cluster scoring to the PQ/ADC tier
    * (IVF-PQ, the canonical billion-vector composition): float
    * assignment picks the probed cells exactly as before, but the probed
    * fraction of the corpus is scanned as m-byte codes against the
    * query's LUT — code IO instead of vector IO. Single-query form (the
    * LUT is per-query, built driver-side); returns `adc_score` instead
    * of `cos_sim`. */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String,
              centroids: DataFrame, centroidIdCol: String,
              query: DataFrame, k: Int, probes: Int = 1,
              scoreQuantized: Boolean = false,
              coarseBranches: Int = 0,
              pqCodebooks: Option[Seq[Seq[Seq[Float]]]] = None): DataFrame = {
    // Centroids are tiny (nlist × dims) — collect driver-side and ship
    // them inside the assignment expression as a plan literal. Assignment
    // then compiles into the scan's projection: the corpus is never
    // crossJoined, windowed, or shuffled to find its nearest centroid.
    // Ranking uses the ROUNDED similarity: both engines agree at 4
    // decimals, unrounded doubles may differ in the last ulp across
    // engines and flip an assignment tie.
    val cents: Seq[(Long, Seq[Float])] = centroids
      // explicit cast: a double-typed centroid table (bare avg() output)
      // converts cleanly here instead of surfacing later as a
      // ClassCastException inside the assignment expression on executors
      .select(col(centroidIdCol).cast("long"), col(vecCol).cast("array<float>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toSeq))
      .toSeq

    val twoLevel = Option.when(coarseBranches > 0)(
      buildCoarseIndex(cents, nCoarse = math.ceil(math.sqrt(cents.size)).toInt))
    def assignCol(n: Int): Column = twoLevel match {
      case Some(idx) => topCentroidsTwoLevel(col(vecCol), idx, n, coarseBranches, round4 = true)
      case None => topCentroids(col(vecCol), cents, n, round4 = true)
    }

    if (pqCodebooks.isDefined) {
      // IVF-PQ: assignment stays float (identical cell membership), the
      // probed scan reads codes only.
      val cb = pqCodebooks.get
      val qv = query.select(col(vecCol).cast("array<float>")).head().getSeq[Float](0).toArray
      val m = cb.length
      val sub = qv.length / m
      val lut: Seq[Seq[Double]] = (0 until m).map { j =>
        cb(j).map { cent =>
          var d = 0.0; var t = 0
          while (t < sub) { d += qv(j * sub + t).toDouble * cent(t); t += 1 }
          java.math.BigDecimal.valueOf(d).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
        }
      }
      val assigned = df.select(col(idCol).as("_aid"),
        pqEncode(col(vecCol), cb).as("_codes"),
        assignCol(1).getItem(0).as("_cid"))
      val queryClusters = query.select(explode(assignCol(probes)).as("_qcid"))
      return assigned
        .join(broadcast(queryClusters), col("_cid") === col("_qcid"))
        .select(col("_aid").as(idCol),
          round(graft.expressions.VectorExpressions.pqAdcScore(col("_codes"), lut), 4)
            .as("adc_score"))
        .filter(col("adc_score").isNotNull)
        .orderBy(desc("adc_score"), asc(idCol))
        .limit(k)
    }

    val corpusVec = if (scoreQuantized) quantizeInt8(col(vecCol)) else col(vecCol)
    val queryVec = if (scoreQuantized) quantizeInt8(col(vecCol)) else col(vecCol)
    val assigned = df.select(col(idCol).as("_aid"), corpusVec.as("_avec"),
      assignCol(1).getItem(0).as("_cid"))
    // Query side probes its `probes` nearest clusters — same expression
    // with n = probes, exploded into one row per probed cluster.
    val queryClusters = query
      .select(queryVec.as("_qvec"),
        explode(assignCol(probes)).as("_qcid"))
    val score =
      if (scoreQuantized) cosineInt8(col("_avec"), col("_qvec"))
      else cosine(col("_avec"), col("_qvec"))
    assigned
      .join(broadcast(queryClusters), col("_cid") === col("_qcid"))
      .select(col("_aid").as(idCol), round(score, 4).as("cos_sim"))
      .filter(col("cos_sim").isNotNull)
      .orderBy(desc("cos_sim"), asc(idCol))
      .limit(k)
  }

  /** BATCHED IVF top-k: the `k` nearest probed-cell corpus rows of EVERY
    * query in a query SET, through ONE corpus scan — the shape a
    * retrieval pipeline actually runs (N queries against a stored
    * corpus), where looping [[ivfTopK]] would re-scan the corpus N times.
    *
    * Everything per-query rides the broadcast as DATA, not plan
    * literals: the query's probe list is a column (`explode` of the
    * n-nearest-centroid expression), its scoring payload is a column —
    * the float vector, its SQ8 lattice, or its ADC lookup table
    * ([[graft.expressions.PQAdcLut]]) when `pqCodebooks` selects the
    * code tier. The corpus side is assigned + scored in one pass, and
    * per-query top-k dies in the bounded heap aggregate (O(k) buffer,
    * map-side partials) exactly like [[knnJoinBetween]] — no window, no
    * per-query job. Returns (query_id, `idCol`, cos_sim|adc_score, rank);
    * ties rank to the smaller id, matching the single-query forms.
    */
  def ivfTopKBatch(df: DataFrame, idCol: String, vecCol: String,
                   centroids: DataFrame, centroidIdCol: String,
                   queries: DataFrame, queryIdCol: String,
                   k: Int, probes: Int = 1,
                   scoreQuantized: Boolean = false,
                   coarseBranches: Int = 0,
                   pqCodebooks: Option[Seq[Seq[Seq[Float]]]] = None): DataFrame = {
    val cents: Seq[(Long, Seq[Float])] = centroids
      .select(col(centroidIdCol).cast("long"), col(vecCol).cast("array<float>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toSeq))
      .toSeq
    val twoLevel = Option.when(coarseBranches > 0)(
      buildCoarseIndex(cents, nCoarse = math.ceil(math.sqrt(cents.size)).toInt))
    def assignCol(n: Int): Column = twoLevel match {
      case Some(idx) => topCentroidsTwoLevel(col(vecCol), idx, n, coarseBranches, round4 = true)
      case None => topCentroids(col(vecCol), cents, n, round4 = true)
    }

    val (corpus, querySide, score, scoreName) = pqCodebooks match {
      case Some(cb) =>
        (df.select(col(idCol).as("_aid"), pqEncode(col(vecCol), cb).as("_pay"),
            assignCol(1).getItem(0).as("_cid")),
          queries.select(col(queryIdCol).as("query_id"),
            graft.expressions.VectorExpressions.pqAdcLut(col(vecCol), cb, round4 = true).as("_qpay"),
            explode(assignCol(probes)).as("_qcid")),
          graft.expressions.VectorExpressions.pqAdcScoreDyn(col("_pay"), col("_qpay")),
          "adc_score")
      case None =>
        val pay = if (scoreQuantized) quantizeInt8(col(vecCol)) else col(vecCol)
        (df.select(col(idCol).as("_aid"), pay.as("_pay"), assignCol(1).getItem(0).as("_cid")),
          queries.select(col(queryIdCol).as("query_id"), pay.as("_qpay"),
            explode(assignCol(probes)).as("_qcid")),
          if (scoreQuantized) cosineInt8(col("_pay"), col("_qpay"))
          else cosine(col("_pay"), col("_qpay")),
          "cos_sim")
    }
    batchTopK(corpus.join(broadcast(querySide), col("_cid") === col("_qcid")),
      idCol, score, scoreName, k)
  }

  /** BATCHED full-scan ADC: every query's top-k over the whole code
    * column in one scan — [[pqAdcTopK]] for a query set. The broadcast
    * carries (query_id, LUT) rows; the corpus never shuffles and is read
    * once (m bytes a row) for all N queries. */
  def pqAdcTopKBatch(df: DataFrame, idCol: String, vecCol: String,
                     codebooks: Seq[Seq[Seq[Float]]],
                     queries: DataFrame, queryIdCol: String, k: Int): DataFrame = {
    val luts = queries.select(col(queryIdCol).as("query_id"),
      graft.expressions.VectorExpressions.pqAdcLut(col(vecCol), codebooks, round4 = true).as("_qpay"))
    val corpus = df.select(col(idCol).as("_aid"), pqEncode(col(vecCol), codebooks).as("_pay"))
    batchTopK(corpus.crossJoin(broadcast(luts)), idCol,
      graft.expressions.VectorExpressions.pqAdcScoreDyn(col("_pay"), col("_qpay")),
      "adc_score", k)
  }

  /** Shared tail of the batch forms (also the stored-code scan's —
    * [[graft.ingest.VectorIndex.scanCodesTopKBatch]]): round, per-query
    * bounded top-k heap, explode to (query_id, id, score, rank). Expects
    * `scored` to carry `query_id` and `_aid` columns. */
  private[graft] def batchTopK(scored: DataFrame, idCol: String, score: Column,
                               scoreName: String, k: Int): DataFrame =
    scored
      .select(col("query_id"), col("_aid"), round(score, 4).as("_s"))
      .filter(col("_s").isNotNull)
      .groupBy("query_id")
      .agg(graft.expressions.BoundedCollect.boundedSortedCollect(
        struct((-col("_s")).as("ns"), col("_aid")), k).as("_top"))
      .select(col("query_id"), posexplode(col("_top")).as(Seq("_pos", "_t")))
      .select(col("query_id"), col("_t._aid").as(idCol),
        (-col("_t.ns")).as(scoreName),
        (col("_pos") + 1).cast("int").as("rank"))

  /** Deterministic ±1 sign matrix for Johnson–Lindenstrauss random
    * projection: sign(j, i) from the first hex digit of md5("rp{i}_{j}")
    * — re-derivable by ANY engine from the dims alone (no RNG state, the
    * sampling-family doctrine), so the oracle reconstructs the same
    * matrix with its own md5. Rows are output dims, columns input dims. */
  def rpSigns(dIn: Int, dOut: Int): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(dOut, dIn) { (j, i) =>
      val h = md.digest(s"rp${i}_$j".getBytes("UTF-8"))
      if (((h(0) >> 4) & 0xf) < 8) 1.0 else -1.0
    }
  }

  /** JL random projection to `dOut` dims — the TRAIN-FREE dimensionality
    * reduction (no moment pass, no stored model: the matrix is a pure
    * function of the dims, so any executor — or any future batch —
    * re-derives it; the arrival-path property PCA lacks). One scan, zero
    * shuffles: dOut exact-long folds per row against plan-literal sign
    * rows, closed by /2^32/√dOut. Distance preservation is the JL
    * guarantee (ε ~ √(ln n / dOut)); the recall query measures it. */
  def randomProject(df: DataFrame, idCol: String, vecCol: String,
                    dOut: Int): DataFrame = {
    val dIn = df.select(size(col(vecCol))).head.getInt(0)
    val signs = rpSigns(dIn, dOut)
    val invRoot = math.sqrt(dOut.toDouble)
    val yCols = (0 until dOut).map { j =>
      val sArr = array(signs(j).map(lit): _*)
      (aggregate(
        transform(col(vecCol), (x: Column, i: Column) =>
          round(x.cast("double") * element_at(sArr, i + 1) * Pca.Scale).cast("long")),
        lit(0L), (a: Column, b: Column) => a + b)
        .cast("double") / Pca.Scale / invRoot).as(s"y$j")
    }
    df.select(col(idCol).as("vec_id"), array(yCols: _*).as("proj"))
  }

  /** Exact-long pair dot: Σ round(aᵢ·bᵢ·2^32) — order-free, the score
    * primitive of the projected-space recall query. */
  private[graft] def quantDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => round(x * y * Pca.Scale).cast("long")),
      lit(0L), (acc: Column, v: Column) => acc + v)

  /** Cosine in projected (double) space from quantized sums — one fixed
    * closing shape the oracle mirrors. */
  private[graft] def quantCosine(a: Column, b: Column): Column =
    round((quantDot(a, b).cast("double") / Pca.Scale) /
      sqrt((quantDot(a, a).cast("double") / Pca.Scale) *
        (quantDot(b, b).cast("double") / Pca.Scale)), 4)
}
