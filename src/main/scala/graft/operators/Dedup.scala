package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for the training-data pipeline: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard.
  *
  * Portability-by-construction: every hash bottoms out in md5 (present
  * and bit-identical in Spark and DuckDB). The MinHash family is ONE md5
  * per shingle fanned out to k slots through k linear permutations
  * `(a_i*h + b_i) mod P` ([[graft.expressions.MinHashImpl]]) — k× less
  * digest work than a min-of-k-md5s family, exactly reproducible in
  * DuckDB UBIGINT arithmetic (every product < 2^63), and the same shape
  * as Spark ML's MinHashLSH.
  *
  * Scale notes (100 TB): every operator is one scan + one shuffle on a
  * short key. Candidate generation is LSH-banded — pairs are only formed
  * WITHIN a band bucket (shuffle key = band hash), never across the corpus,
  * keeping the join sub-quadratic. Oversized buckets (degenerate content)
  * are capped by a bounded aggregate (O(cap) buffer memory even on a
  * pathological hot bucket), and the cap is not silent: pass a
  * `droppedAcc` accumulator to observe how many ids truncation dropped.
  */
object Dedup {

  private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.operators.Dedup")

  /** Which [[duplicateClusters]] path a given edge frame takes — named
    * so the decision is testable and the log line can't drift from the
    * branch it describes. */
  private[graft] def clustersPathName(isLongIds: Boolean, nEdges: Long,
                                      driverEdgeLimit: Long): String =
    if (isLongIds && nEdges <= driverEdgeLimit) "driver-union-find"
    else "distributed-pointer-doubling"

  /** Paragraph-granularity exact dedup — the C4/RefinedWeb shape the
    * doc-level family doesn't cover: split each document on `delim`
    * (literal, default blank line), remove every paragraph whose exact
    * content already appeared at an earlier (doc, position) anywhere in
    * the corpus (keep-first), and reassemble the surviving paragraphs in
    * order. Returns (doc, n_paras, n_kept, clean_text).
    *
    * Scale shape: one posexplode of paragraphs, a partial-aggregated
    * groupBy on the content hash (min(struct(doc, pos)) + count collapse
    * map-side — a boilerplate paragraph repeated across half the corpus
    * reduces in partials), and a join back AGAINST DUPLICATE GROUPS ONLY
    * (count > 1 filter: unique paragraphs — the overwhelming majority —
    * never enter the build side; an un-joined paragraph is kept by
    * definition). Reassembly is an in-row sort over the doc's own kept
    * paragraphs — document-bounded. For a corpus where one paragraph
    * dominates (the stop-gram regime), the df-threshold hot/cold split
    * of [[TextOps.exactRunCoverage]] applies unchanged to the join. */
  def paragraphDedup(df: DataFrame, idCol: String, textCol: String,
                     delim: String = "\n\n"): DataFrame = {
    val paras = df.select(col(idCol).as("doc"),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(delim)))
          .as(Seq("pos", "para")))
      .withColumn("_h", md5(col("para")))
    val dupFirsts = paras.groupBy("_h")
      .agg(min(struct(col("doc"), col("pos"))).as("_first"), count(lit(1)).as("_cnt"))
      .filter(col("_cnt") > 1)
      .select("_h", "_first")
    paras.join(dupFirsts, Seq("_h"), "left_outer")
      .select(col("doc"), col("pos"), col("para"),
        (col("_first").isNull ||
          (col("doc") === col("_first.doc") && col("pos") === col("_first.pos")))
          .as("_keep"))
      .groupBy("doc")
      .agg(count(lit(1)).as("n_paras"),
        sum(when(col("_keep"), 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(when(col("_keep"), struct(col("pos"), col("para"))))),
            x => x.getField("para")),
          delim).as("clean_text"))
  }

  /** Corpus-level boilerplate LINE removal — the C4 "citation needed /
    * cookie banner" rule: strip EVERY occurrence (not keep-first — a
    * boilerplate line carries no signal anywhere) of a line whose exact
    * content occurs in at least `minDocs` DISTINCT documents, and
    * reassemble the surviving lines in order. Returns
    * (doc, n_lines, n_kept, clean_text). Complements [[paragraphDedup]]
    * (keep-first at paragraph granularity) — together they are the two
    * halves of the C4 cleaning pass.
    *
    * Scale shape: one posexplode of lines; the per-line distinct-doc
    * count is (line-hash, doc) dedup + plain count — both
    * partial-aggregated groupBys (no count-distinct Expand), so a line
    * occurring in half the corpus collapses map-side. The join back is
    * skew-bounded DETERMINISTICALLY by the same hot/cold split as
    * [[TextOps.exactRunCoverage]]: lines with doc-count ≥ `hotDocs` are
    * resolved through a broadcast join and ELIMINATED FROM THE PROBE SIDE
    * MAP-SIDE before any exchange (the broadcast side is provably
    * bounded: #lines with count ≥ K ≤ distinct (line,doc) rows / K),
    * while the cold shuffle join has every key < `hotDocs` build rows by
    * construction — the ubiquitous boilerplate that motivates the
    * operator never travels through a shuffle at all. Reassembly is an
    * in-row sort over the doc's own kept lines — document-bounded. */
  def lineDedupCorpus(df: DataFrame, idCol: String, textCol: String,
                      minDocs: Long = 3L, hotDocs: Long = 65536L,
                      delim: String = "\n"): DataFrame = {
    val lines = df.select(col(idCol).as("doc"),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(delim)))
          .as(Seq("pos", "line")))
      .withColumn("_h", md5(col("line")))
    val boiler = lines.select(col("_h"), col("doc")).distinct()
      .groupBy("_h").agg(count(lit(1)).as("_docs"))
      .filter(col("_docs") >= minDocs)
    val hot = boiler.filter(col("_docs") >= hotDocs).select(col("_h"), lit(1).as("_hot"))
    val cold = boiler.filter(col("_docs") < hotDocs).select(col("_h"), lit(1).as("_cold"))
    val probed = lines.join(broadcast(hot), Seq("_h"), "left_outer")
    val markedHot = probed.filter(col("_hot") === 1)
      .select(col("doc"), col("pos"), col("line"), lit(false).as("_keep"))
    val markedRest = probed.filter(col("_hot").isNull)
      .join(cold, Seq("_h"), "left_outer")
      .select(col("doc"), col("pos"), col("line"), col("_cold").isNull.as("_keep"))
    markedHot.unionByName(markedRest)
      .groupBy("doc")
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("_keep"), 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(when(col("_keep"), struct(col("pos"), col("line"))))),
            x => x.getField("line")),
          delim).as("clean_text"))
  }

  /** Exact dedup: content-hash groupBy keeping the lowest doc id
    * (hash-partitioned aggregation, map-side partials). */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("group_size"))

  /** k MinHash values over word-`n`-gram shingles: element i is
    * min over shingles of (a_i * h(shingle) + b_i) mod P, where h is the
    * unsigned 32-bit head of md5(shingle) and a_i/b_i are the md5-derived
    * coefficients of [[graft.expressions.MinHashImpl.coeffs]].
    *
    * Composable reference form (what the DuckDB oracles and the parity
    * spec rebuild). ONLY use this on a pre-materialized shingle
    * ATTRIBUTE: non-lambda subexpressions inside an interpreted HOF
    * lambda are re-evaluated per element, so an inlined shingle pipeline
    * (split → array_remove → slice…) would run k× per window — measured
    * 80× slower than [[minhashSignatures]] at sf0.1. */
  def minhashSignature(sh: Column, k: Int): Column = {
    val (as, bs) = graft.expressions.MinHashImpl.coeffs(k)
    val p = graft.expressions.MinHashImpl.Prime
    val base = (s: Column) => conv(substring(md5(s), 1, 8), 16, 10).cast("long")
    array((0 until k).map { i =>
      array_min(transform(sh, s => (lit(as(i)) * base(s) + lit(bs(i))) % lit(p)))
    }: _*)
  }

  /** MinHash signatures as a DataFrame: (id, sig array<bigint>).
    *
    * Narrow form: the whole signature is ONE codegen'd expression
    * ([[graft.expressions.MinHashSig]]) evaluated per row — no explode, no
    * aggregation, no shuffle. The earlier explode+`min(md5…)` aggregation
    * form forced SortAggregate (string agg buffers aren't
    * HashAggregate-able), i.e. a full sort of the exploded shingle frame;
    * per-row evaluation removes that sort AND the exchange entirely.
    * Documents with no shingles (fewer than `n` tokens, or NULL text) keep
    * a NULL signature — same contract as before. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        n: Int, k: Int): DataFrame =
    df.select(col(idCol).as("doc"),
      graft.expressions.MinHashExpressions
        .minhashSig(TextOps.tokens(col(textCol)), n, k).as("sig"))

  /** LSH band hashes: `bands` bands of `rowsPerBand` signature rows each;
    * band b hashes the concatenation of its rows. Documents sharing ANY
    * band hash become candidate pairs. */
  def bandHashes(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => md5(concat_ws("|",
        transform(slice(sig, b * lit(rowsPerBand) + 1, lit(rowsPerBand)),
          v => v.cast("string")))))

  /** The storable LSH band index of a corpus: (doc, band_idx, band_hash)
    * — what an incremental pipeline persists once per corpus so a new
    * batch never re-bands old documents ([[incrementalLshPairs]]). */
  def bandIndex(df: DataFrame, idCol: String, textCol: String,
                shingleN: Int, k: Int, bands: Int): DataFrame = {
    require(bands > 0 && k % bands == 0,
      s"bands ($bands) must divide the signature length k ($k) — " +
        "a remainder would silently ignore the trailing signature slots")
    minhashSignatures(df, idCol, textCol, shingleN, k)
      .filter(col("sig").isNotNull)
      .select(col("doc"),
        posexplode(bandHashes(col("sig"), bands, k / bands))
          .as(Seq("band_idx", "band_hash")))
  }

  /** [[bandIndex]] pre-aggregated into capped buckets: (band_idx,
    * band_hash, docs) with each bucket holding its `maxBucket` smallest
    * doc ids (bounded aggregate — O(maxBucket) buffer on a hot bucket).
    * This is the join-ready stored form; `droppedAcc` surfaces cap
    * truncation exactly as in [[lshCandidatePairs]]. */
  def bandBuckets(index: DataFrame, maxBucket: Int = 1000,
                  droppedAcc: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame =
    index.groupBy("band_idx", "band_hash")
      .agg(graft.expressions.BoundedCollect
        .boundedSortedCollect(col("doc"), maxBucket, droppedAcc).as("docs"))

  /** Incremental dedup: near-dup pairs between an INCOMING batch and an
    * already-indexed corpus — the daily-ingest shape. The corpus side is
    * its stored [[bandBuckets]] (never re-shingled, never re-banded,
    * never paired with itself); only the batch is hashed, and each batch
    * band row meets at most `maxBucket` corpus ids through the bucket
    * join, so the candidate fan-out is bounded per row no matter how
    * degenerate the corpus bucket. Jaccard verification re-shingles
    * candidates ONLY, on both sides. Returns
    * (doc_new, doc_old, n_shared_bands, jaccard). Within-batch duplicates
    * are [[lshCandidatePairs]]' job — compose both for a full daily run. */
  def incrementalLshPairs(
      newDocs: DataFrame, idCol: String, textCol: String,
      corpusBuckets: DataFrame, corpusDocs: DataFrame,
      shingleN: Int = 3, k: Int = 8, bands: Int = 4): DataFrame = {
    require(bands > 0 && k % bands == 0,
      s"bands ($bands) must divide the signature length k ($k)")
    def shd(df: DataFrame) = df.select(col(idCol).as("doc"),
      array_distinct(TextOps.shingles(TextOps.tokens(col(textCol)), shingleN)).as("shd"))
    incrementalLshPairsFrom(
      bandIndex(newDocs, idCol, textCol, shingleN, k, bands),
      shd(newDocs), corpusBuckets, shd(corpusDocs))
  }

  /** Within-corpus LSH pairs from PRECOMPUTED parts: `bandIdx` is a
    * [[bandIndex]]-shaped frame, `shingles` is (doc, shd) in whatever
    * gram representation the caller stores (raw or hashed — Jaccard is
    * representation-blind as long as both rows use the same one). The
    * streaming path computes both ONCE per batch and reuses them for
    * pairing, cross-batch checks, and index storage; [[lshCandidatePairs]]
    * keeps its candidate-only re-shingle form, which is the right shape
    * when shingle sets are NOT otherwise needed. */
  def lshPairsFrom(bandIdx: DataFrame, shingles: DataFrame,
                   maxBucket: Int = 1000,
                   droppedAcc: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    val docs = col("docs")
    val pairs = bandIdx
      .groupBy("band_idx", "band_hash")
      .agg(graft.expressions.BoundedCollect
        .boundedSortedCollect(col("doc"), maxBucket, droppedAcc).as("docs"))
      .filter(size(docs) >= 2)
      .select(explode(flatten(transform(docs, (x, i) =>
        transform(slice(docs, i + 2, size(docs)),
          y => struct(x.as("doc_a"), y.as("doc_b")))))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared_bands"))
    def side(s: String) = shingles.select(col("doc").as(s), col("shd").as(s"sh_$s"))
    pairs
      .join(side("doc_a"), Seq("doc_a"))
      .join(side("doc_b"), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_shared_bands"),
        round(jaccard(col("sh_doc_a"), col("sh_doc_b")), 4).as("jaccard"))
  }

  /** [[incrementalLshPairs]] from PRECOMPUTED parts — the streaming face
    * ([[graft.streaming.StreamingDedup]]) passes the stored corpus
    * shingle sets so corpus TEXT is never re-read. Both shingle frames
    * are (doc, shd) and must use the same representation (raw n-grams or
    * hashed n-grams) — Jaccard only compares within one family. */
  def incrementalLshPairsFrom(
      newBands: DataFrame, newShingles: DataFrame,
      corpusBuckets: DataFrame, corpusShingles: DataFrame): DataFrame = {
    val pairs = newBands
      .withColumnRenamed("doc", "doc_new")
      .join(corpusBuckets, Seq("band_idx", "band_hash"))
      .select(col("doc_new"), explode(col("docs")).as("doc_old"))
      .groupBy("doc_new", "doc_old")
      .agg(count(lit(1)).as("n_shared_bands"))
    def side(df: DataFrame, s: String, cand: DataFrame) =
      df.select(col("doc").as(s), col("shd").as(s"sh_$s"))
        .join(cand.select(col(s)).distinct(), Seq(s), "left_semi")
    pairs
      .join(side(newShingles, "doc_new", pairs), Seq("doc_new"))
      .join(side(corpusShingles, "doc_old", pairs), Seq("doc_old"))
      .select(col("doc_new"), col("doc_old"), col("n_shared_bands"),
        round(jaccard(col("sh_doc_new"), col("sh_doc_old")), 4).as("jaccard"))
  }

  /** Candidate near-dup pairs via banded LSH, with exact n-gram Jaccard
    * computed on each candidate (verification step — LSH recalls, Jaccard
    * decides). Returns (doc_a, doc_b, n_shared_bands, jaccard).
    *
    * `maxBucket` caps degenerate buckets (e.g. thousands of identical
    * boilerplate docs) so a single hot key cannot produce a quadratic
    * task; capped buckets are still represented by their smallest ids.
    */
  def lshCandidatePairs(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 8, bands: Int = 4,
      maxBucket: Int = 1000,
      droppedAcc: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    // Band frame carries ONLY (doc, band_idx, band_hash): the shingle
    // arrays must NOT ride through the bucket shuffles and the pair join —
    // measured 30× slower when they do. They are joined back per pair side
    // at the end (one narrow join each; AQE broadcasts the small pair
    // frame, so the shingle sets never shuffle).
    val withBands = bandIndex(df, idCol, textCol, shingleN, k, bands)

    // ONE shuffle does bucket formation AND the cap: collect each bucket's
    // `maxBucket` SMALLEST doc ids via the bounded aggregate
    // ([[graft.expressions.BoundedSortedCollect]] — O(maxBucket) buffer at
    // every stage, so a degenerate hot bucket costs bounded memory, not
    // O(bucket)), and emit the i<j combinations from the array in place —
    // the earlier window-cap + bucket self-join spent a second sort and a
    // second exchange to produce the same (and each unordered pair twice).
    // Truncation is surfaced through `droppedAcc` (ids dropped by the cap).
    // The HOF lambdas only touch the collected `docs` attribute and lambda
    // variables (the interpreted-HOF re-eval rule), and the combination
    // count IS the output size, so nothing here is super-linear in the
    // result.
    val docs = col("docs")
    val pairs = withBands
      .groupBy("band_idx", "band_hash")
      .agg(graft.expressions.BoundedCollect
        .boundedSortedCollect(col("doc"), maxBucket, droppedAcc).as("docs"))
      .filter(size(docs) >= 2)
      .select(explode(flatten(transform(docs, (x, i) =>
        transform(slice(docs, i + 2, size(docs)),
          y => struct(x.as("doc_a"), y.as("doc_b")))))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared_bands"))

    // Verification shingles are computed ONLY for documents that appear in
    // a candidate pair (semi-join first, shingle after): at corpus scale
    // candidates are a small fraction, so the expensive re-shingling scan
    // shrinks with the dup rate instead of the corpus size. The pair frame
    // is persisted because it feeds both the candidate filter and the
    // final join — tiny (it is the operator's output skeleton), but
    // without it Spark would run the whole signature pipeline twice.
    val pairsP = pairs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = pairsP.select(explode(array(col("doc_a"), col("doc_b"))).as("doc")).distinct()
    val shd = df.select(col(idCol).as("doc"), col(textCol))
      .join(cand, Seq("doc"), "left_semi")
      .select(col("doc"),
        array_distinct(TextOps.shingles(TextOps.tokens(col(textCol)), shingleN)).as("shd"))
    pairsP
      .join(shd.select(col("doc").as("doc_a"), col("shd").as("sh_a")), Seq("doc_a"))
      .join(shd.select(col("doc").as("doc_b"), col("shd").as("sh_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_shared_bands"),
        round(jaccard(col("sh_a"), col("sh_b")), 4).as("jaccard"))
  }

  /** Duplicate-cluster resolution over a near-dup pair graph: label every
    * paired document with the SMALLEST doc id reachable through pairs
    * (connected components, min-id labeling) — the step between pair
    * generation and actually dropping duplicates: keep the row whose id
    * equals its cluster label, drop the rest, and a whole transitive
    * family of near-dups collapses to one canonical doc. Returns
    * `(doc, cluster)` for every doc that appears in a pair.
    *
    * Iterative min-label propagation WITH pointer doubling: each round a
    * doc's label becomes the min of (its own, its neighbors' labels, its
    * label's label). The neighbor step moves information one hop; the
    * label-of-label step halves every remaining chain — convergence in
    * O(log diameter) rounds (a 28.7s / ~30-round plain propagation on
    * the sf0.1 corpus, whose near-dup families chain through shared
    * boilerplate, drops to 4 rounds). Each round is two hash-shuffled
    * joins + one partial-aggregated groupBy over the PAIR graph (small:
    * it is the dedup output skeleton), nothing on the driver.
    * Convergence is checked with a `limit(1)` changed-label probe;
    * an unconverged exit (cannot happen below 2^maxRounds diameter) is
    * reported loudly rather than returned silently. */
  def duplicateClusters(pairs: DataFrame, aCol: String = "doc_a", bCol: String = "doc_b",
                        maxRounds: Int = 30,
                        driverEdgeLimit: Long = 4_000_000L): DataFrame = {
    val spark = pairs.sparkSession
    // Materialize the pair SKELETON exactly once, before anything fans
    // out. The input plan is the expensive part (signature → banding →
    // bucket join → Jaccard); referencing `pairs` from two union branches
    // would run that whole pipeline twice in one job, and a later count
    // gate + collect would pay more traversals still. persist + the gate
    // count materializes it in one job AND can be released explicitly
    // when this call is done — a streaming job calls this every
    // micro-batch, so leaked block-manager storage would accumulate
    // (the iterative loop's lineage still gets truncated by its own
    // per-round localCheckpoints).
    val skel = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // The pair graph is the dedup OUTPUT skeleton — usually minuscule
    // next to the corpus. Below `driverEdgeLimit` edges a driver-side
    // union-find beats the distributed loop: each distributed round pays
    // whole-stage codegen compilation for three fresh plans plus two
    // joins over the edge frame, while union-find is linear scans.
    // PLANS.md ("Connected components at 10M edges") measures the driver
    // path ahead at every size to ≥10M edges (14.7s vs 54.0s at 10M,
    // chained families), so the 4M default is a driver-MEMORY guardrail (collect
    // + label map), not a speed crossover — raise it when the driver has
    // headroom. The distributed path remains the correctness-equivalent
    // arbitrarily-large-graph fallback (spec-pinned against the same
    // results). Union-find needs neither symmetrized nor deduplicated
    // edges, so the driver path skips the union+distinct shuffle
    // entirely.
    val isLongIds = skel.schema.fields.forall(f =>
      f.dataType == org.apache.spark.sql.types.LongType ||
        f.dataType == org.apache.spark.sql.types.IntegerType)
    val nEdges = skel.count() // materializes the persist in one job
    // the flip is a ~4× cost change at the limit (PLANS.md crossover
    // table) — surface which path ran instead of switching silently
    val path = clustersPathName(isLongIds, nEdges, driverEdgeLimit)
    log.info(s"duplicateClusters: $path ($nEdges edges, driverEdgeLimit=$driverEdgeLimit, longIds=$isLongIds)")
    if (path == "driver-union-find") {
      val es = skel.select(col("src").cast("long"), col("dst").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x // path compression
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      es.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { // min id becomes the root, so labels are min-id
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
        }
      }
      val out = parent.keys.toSeq.sorted.map(d => (d, find(d)))
      skel.unpersist()
      // NOT a LocalRelation: toDF on a driver Seq serializes the whole
      // result into ONE task of every downstream job (measured 2-3× the
      // union-find itself at millions of labels). parallelize slices it
      // so consumers (keepCanonical's join, aggregations) read a normal
      // distributed frame; small results keep one slice.
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      val slices = math.max(1, math.min(32, out.size / 100_000)).toInt
      return spark.createDataFrame(
        spark.sparkContext.parallelize(
          out.map { case (d, c) => org.apache.spark.sql.Row(d, c) }, slices),
        StructType(Seq(StructField("doc", LongType, nullable = false),
          StructField("cluster", LongType, nullable = false))))
    }

    // Distributed path: min-label propagation needs symmetric edges.
    // The skeleton is already materialized, so this union+distinct is a
    // shuffle over the (small) pair frame only.
    import org.apache.spark.storage.StorageLevel
    val edges = skel
      .unionByName(skel.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)

    // Each round's result is localCheckpoint'ed (eager): the data is
    // materialized AND the logical plan is truncated to a LogicalRDD.
    // Plain persist is NOT enough for an iterative algorithm — the
    // lineage still nests every previous round's plan (~4× growth per
    // round: two hop references + the convergence probe), so planning,
    // codegen, and even AQE's plan stringification blow up
    // exponentially after a handful of rounds.
    var labels = edges.select(col("src").as("doc")).distinct()
      .select(col("doc"), col("doc").as("cluster"))
      .localCheckpoint()
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      val nbr = edges
        .join(labels.select(col("doc").as("dst"), col("cluster")), Seq("dst"))
        .select(col("src").as("doc"), col("cluster"))
      val hop = labels.unionByName(nbr)
        .groupBy("doc").agg(min("cluster").as("cluster"))
        .localCheckpoint()
      // pointer doubling: follow the label one more step (a label is
      // always itself a doc in the graph, so the lookup is a self-join)
      val next = hop
        .join(hop.select(col("doc").as("cluster"), col("cluster").as("_c2")),
          Seq("cluster"), "left")
        .select(col("doc"), least(col("cluster"), coalesce(col("_c2"), col("cluster"))).as("cluster"))
        .localCheckpoint()
      val changed = next
        .join(labels.select(col("doc"), col("cluster").as("_old")), Seq("doc"))
        .filter(col("cluster") =!= col("_old"))
        .limit(1).count()
      labels = next
      converged = changed == 0
      round += 1
    }
    edges.unpersist()
    skel.unpersist()
    require(converged,
      s"duplicateClusters did not converge in $maxRounds rounds — component diameter > 2^$maxRounds?")
    labels
  }

  /** Keep one canonical row per duplicate family: drop every row whose
    * cluster label differs from its own id, keep everything else
    * (cluster representatives AND never-paired rows). The end of the
    * dedup pipeline: pairs → clusters → THIS → clean corpus.
    * One anti-join against the drop list (clustered non-representatives
    * — bounded by the pair skeleton, usually tiny). Deliberately NOT a
    * hard broadcast: on a duplicate-heavy corpus the drop list grows
    * with the dup rate, and AQE picks broadcast vs shuffle from its
    * actual size instead of OOMing the driver on a hint. */
  def keepCanonical(df: DataFrame, idCol: String, clusters: DataFrame): DataFrame = {
    val drops = clusters.filter(col("doc") =!= col("cluster"))
      .select(col("doc").as(idCol))
    df.join(drops, Seq(idCol), "left_anti")
  }

  /** Quality-aware canonical selection: keep the HIGHEST-`scoreCol`
    * member of each duplicate cluster (ties to the smallest id), plus
    * every singleton — what a production dedup pass actually wants
    * ([[keepCanonical]]'s min-id keep throws away a clean copy whenever
    * the boilerplate-laden one got the smaller id). `clusters` is
    * [[duplicateClusters]] output; only the per-cluster GROUPING is
    * used, so any component labeling (min-id, least-of-pair) selects
    * identical survivors.
    *
    * Scale shape: the argmax is `min(struct(-score, id))` — one
    * partial-agg groupBy on the cluster id, no rank window, so the
    * biggest duplicate family collapses map-side; singletons ride a
    * left_anti on the (tiny) cluster membership frame. */
  def keepBestInCluster(df: DataFrame, idCol: String, scoreCol: String,
                        clusters: DataFrame): DataFrame = {
    val membership = clusters.select(col("doc").as(idCol), col("cluster"))
    val best = df.join(membership, Seq(idCol))
      .groupBy("cluster")
      .agg(min(struct((-col(scoreCol)).as("ns"), col(idCol).as("id"))).as("_b"))
      .select(col("_b.id").as(idCol))
    df.join(membership.select(col(idCol)), Seq(idCol), "left_anti")
      .unionByName(df.join(best, Seq(idCol), "left_semi"))
  }

  /** Winnowing-fingerprint pair detection — the MOSS shape: two docs
    * sharing ≥ `minShared` DISCRIMINATIVE winnow fingerprints share
    * actual character runs (winnowing guarantees every ≥ k+window-1
    * char match leaves ≥ 1 common fingerprint — local overlap, which
    * set-level MinHash dilutes away). Discriminative = document
    * frequency in [2, maxDf]: a fingerprint in thousands of docs is
    * boilerplate, carries no pair information, and is ALSO the hot
    * bucket that would blow the pair join up quadratically — measured
    * on the driver corpus: one fp in 68% of docs, 95M raw pairs vs 41k
    * at maxDf 10. The df threshold is declarative (count + filter), so
    * the oracle replicates it exactly — unlike a bucket CAP, which
    * truncates nondeterministically. Containment =
    * shared / min(|A|, |B|) over discriminative fingerprints — the
    * size-asymmetric metric: a short doc wholly inside a long one
    * scores 1.0 where Jaccard rounds to 0.
    *
    * Scale shape: per-doc fingerprints (doc-bounded windows) → explode
    * → partial-agg df → the [2, maxDf] filter BEFORE anything pairs →
    * bucket self-join with every bucket ≤ maxDf rows by construction →
    * pair partial-agg. */
  def winnowPairs(df: DataFrame, idCol: String, textCol: String,
                  k: Int = 8, window: Int = 4,
                  maxDf: Long = 10L, minShared: Long = 2L): DataFrame = {
    val fp = TextOps.winnowingFingerprints(df, idCol, textCol, k, window)
      .select(col("doc"), explode(col("fingerprints")).as("fp"))
    val keep = fp.groupBy("fp").agg(count(lit(1)).as("_df"))
      .filter(col("_df") >= 2 && col("_df") <= maxDf)
      .select("fp")
    val disc = fp.join(keep, Seq("fp"))
    val sizes = disc.groupBy("doc").agg(count(lit(1)).as("_nfp"))
    val pairs = disc.select(col("fp"), col("doc").as("doc_a"))
      .join(disc.select(col("fp"), col("doc").as("doc_b")), Seq("fp"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    pairs
      .join(sizes.select(col("doc").as("doc_a"), col("_nfp").as("_na")), Seq("doc_a"))
      .join(sizes.select(col("doc").as("doc_b"), col("_nfp").as("_nb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        round(col("n_shared").cast("double") / least(col("_na"), col("_nb")), 4)
          .as("containment"))
  }

  /** Exact Jaccard of two DISTINCT string sets (every caller feeds
    * `array_distinct` output or stored copies of it). One codegen'd
    * per-row pass ([[graft.expressions.JaccardDistinct]]) — the old
    * `size(array_intersect)/size(array_union)` built two hash sets and
    * materialized two throwaway arrays per candidate pair; for distinct
    * inputs |∪| = |a| + |b| − |∩| and one membership pass suffices.
    * Same IEEE division, bit-identical results (oracle-pinned). */
  def jaccard(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(graft.expressions.JaccardDistinct(
      Bridge.expression(a), Bridge.expression(b)))
  }

  /** Portable 16-bit SimHash as a '0'/'1' string. Per token: md5; hex char
    * p (1-based) of the digest carries 4 bits; bit q of its value v =
    * (v div 2^q) mod 2; tokens vote ±1 per bit, the sign is the
    * fingerprint bit. Arithmetic only — identical in DuckDB.
    *
    * Narrow form: ONE codegen'd per-row expression
    * ([[graft.expressions.SimHash16]]) — no explode, no 16-aggregate
    * shuffle. [[simhash16Relational]] keeps the composable groupBy form;
    * OperatorsSpec asserts they are bit-identical. */
  def simhash16(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
      graft.expressions.SimHashExpressions
        .simhash16(TextOps.tokens(col(textCol))).as("simhash"))

  /** Relational (explode + 16 codegen'd sums) SimHash — the reference
    * implementation the oracle SQL mirrors term-for-term. */
  def simhash16Relational(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val exploded = df.select(col(idCol).as("doc_id"),
      explode_outer(TextOps.tokens(col(textCol))).as("w"))
      .withColumn("h", md5(col("w")))
    val sums = (0 until 16).map { bit =>
      val p = bit / 4 + 1
      val q = 1 << (bit % 4)
      sum(expr(
        s"CASE WHEN w IS NULL THEN 0 ELSE 2 * (((locate(substr(h, $p, 1), '0123456789abcdef') - 1) div $q) % 2) - 1 END"))
        .as(s"s$bit")
    }
    exploded.groupBy("doc_id").agg(sums.head, sums.tail: _*)
      .select(col("doc_id"),
        concat((0 until 16).map(bit =>
          when(col(s"s$bit") > 0, "1").otherwise("0")): _*).as("simhash"))
  }

  /** Hamming distance between two equal-length '0'/'1' fingerprints. */
  def hammingBits(a: Column, b: Column): Column =
    size(filter(zip_with(split(a, ""), split(b, ""), (x, y) => x =!= y), d => d))

  /** Contiguous block boundaries splitting `width` signature bits into
    * `nBlocks` near-even spans — shared by the Spark plan and the oracle
    * SQL generator so the band geometry cannot drift between them. */
  private[graft] def simhashBlockBounds(nBlocks: Int, width: Int = 16): IndexedSeq[Int] =
    (0 to nBlocks).map(i => i * width / nBlocks)

  /** SimHash near-duplicate pairs within Hamming distance `maxHamming`
    * of the [[simhash16]] fingerprint — the pair-generating half the
    * signature operator alone doesn't give you.
    *
    * Candidate generation is pigeonhole banding, never all-pairs: the
    * 16-bit signature splits into `maxHamming + 1` contiguous blocks,
    * and any pair inside the Hamming ball must agree EXACTLY on at
    * least one block (≤ maxHamming bits differ, so some block carries
    * none of them). Each block is an equi-join key — the shuffle
    * partitions on (block_idx, block_bits) — and the exact distance
    * then prunes candidates via a single bit_count(xor) on the integer
    * form of the signature. Output `(id_a, id_b, hamming)`, id_a <
    * id_b, each pair exactly once (the distinct collapses the up-to-
    * (k+1)-fold band duplication with map-side partial aggregation).
    *
    * 100 TB posture: identical hot-bucket geometry to MinHash banding —
    * a block value shared by a large corpus fraction concentrates its
    * bucket. 16-bit signatures make such collisions likely at corpus
    * scale; use [[simhash64NearDupPairs]] (the production 64-bit form
    * of this exact shape) for real corpora. The pigeonhole guarantee is
    * exact either way: recall within the ball is 100%, unlike MinHash
    * banding's probabilistic recall.
    */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 2): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 16, "maxHamming must be in [0, 16)")
    val bounds = simhashBlockBounds(maxHamming + 1)
    val blocks = (0 until maxHamming + 1).map { i =>
      substring(col("simhash"), bounds(i) + 1, bounds(i + 1) - bounds(i))
    }
    val sigs = simhash16(df, idCol, textCol)
      .select(col("doc_id"), conv(col("simhash"), 2, 10).cast("int").as("sig"),
        posexplode(array(blocks: _*)))
    val a = sigs.select(col("doc_id").as("id_a"), col("sig").as("sig_a"), col("pos"), col("col"))
    val b = sigs.select(col("doc_id").as("id_b"), col("sig").as("sig_b"), col("pos"), col("col"))
    a.join(b, Seq("pos", "col"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "sig_a", "sig_b").distinct()
      .select(col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Production-width 64-bit SimHash as one LONG per document — the
    * [[simhash16]] construction over md5 hex chars 1..16 (the 16-bit
    * space has 65,536 values and is measurably saturated at corpus
    * scale: the Hamming-ball histogram at sf0.1 counts 1.57M 16-bit
    * pairs vs the handful of true near-dups the 64-bit space isolates).
    * Bit i of the long = fingerprint bit i; bit 63 lands on the sign
    * bit, which every consumer treats as plain bits via xor/bit_count.
    * Codegen'd per-row expression ([[graft.expressions.SimHash64]]):
    * no explode, no 64-aggregate shuffle — the fingerprint rides the
    * scan. */
  def simhash64(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
      graft.expressions.SimHashExpressions
        .simhash64(TextOps.tokens(col(textCol))).as("simhash64"))

  /** Relational (explode + 64 codegen'd sums) 64-bit SimHash — the
    * reference implementation the oracle SQL mirrors term-for-term,
    * including the signed assembly of bit 63: the long is
    * Σ_{bit<63} sign_bit·2^bit plus Long.MinValue when bit 63 votes
    * positive — exact signed arithmetic in both engines, no unsigned
    * 2^63 ever materializing. OperatorsSpec pins this bit-identical to
    * the expression form. */
  def simhash64Relational(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val exploded = df.select(col(idCol).as("doc_id"),
      explode_outer(TextOps.tokens(col(textCol))).as("w"))
      .withColumn("h", md5(col("w")))
    val sums = (0 until 64).map { bit =>
      val p = bit / 4 + 1
      val q = 1 << (bit % 4)
      sum(expr(
        s"CASE WHEN w IS NULL THEN 0 ELSE 2 * (((locate(substr(h, $p, 1), '0123456789abcdef') - 1) div $q) % 2) - 1 END"))
        .as(s"s$bit")
    }
    val terms = (0 until 63).map(bit =>
      when(col(s"s$bit") > 0, lit(1L << bit)).otherwise(lit(0L))) :+
      when(col("s63") > 0, lit(Long.MinValue)).otherwise(lit(0L))
    exploded.groupBy("doc_id").agg(sums.head, sums.tail: _*)
      .select(col("doc_id"), terms.reduce(_ + _).as("simhash64"))
  }

  /** SimHash near-duplicate pairs within Hamming distance `maxHamming`
    * on the 64-bit fingerprint — [[simhashNearDupPairs]] at production
    * width. Same pigeonhole banding: `maxHamming + 1` contiguous blocks
    * of the 64 bits (at maxHamming = 7 that is the classic 8-blocks-of-
    * 8-bits scheme), any in-ball pair agrees exactly on ≥ 1 block, each
    * block an equi-join key, then one `bit_count(xor)` prunes to the
    * exact ball. Blocks are extracted with an unsigned shift + mask on
    * the long — the signature never leaves integer form, so the band
    * shuffle carries (pos, 8-byte block) rows, not bit-strings.
    *
    * 100 TB posture: identical geometry to the 16-bit form, but the
    * block value space is what makes it production-viable — an 8-bit
    * block has 256 values and WILL concentrate buckets, which is why
    * blocks here are `64/(k+1)` bits (k=3 → 16-bit blocks, 65k values);
    * recall inside the ball stays exactly 100% either way. */
  def simhash64NearDupPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64, "maxHamming must be in [0, 64)")
    val bounds = simhashBlockBounds(maxHamming + 1, 64)
    val blocks = (0 until maxHamming + 1).map { i =>
      val w = bounds(i + 1) - bounds(i)
      val mask = if (w == 64) -1L else (1L << w) - 1L
      shiftrightunsigned(col("simhash64"), bounds(i)).bitwiseAND(lit(mask))
    }
    val sigs = simhash64(df, idCol, textCol)
      .select(col("doc_id"), col("simhash64").as("sig"),
        posexplode(array(blocks.map(_.cast("long")): _*)))
    val a = sigs.select(col("doc_id").as("id_a"), col("sig").as("sig_a"), col("pos"), col("col"))
    val b = sigs.select(col("doc_id").as("id_b"), col("sig").as("sig_b"), col("pos"), col("col"))
    a.join(b, Seq("pos", "col"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "sig_a", "sig_b").distinct()
      .select(col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** `(1/b)^(1/r)` by repeated sqrt (r a power of two) — the S-curve
    * threshold in an engine-portable shape (sqrt is IEEE-exact in both
    * engines; a library `pow` is only ≤1-ulp and could straddle the
    * rounding boundary). */
  private[operators] def sCurveThreshold(b: Int, r: Int): Double = {
    require(Integer.bitCount(r) == 1, s"rows-per-band $r must be a power of two")
    var v = 1.0 / b
    var rr = r
    while (rr > 1) { v = math.sqrt(v); rr /= 2 }
    v
  }

  /** `1 − (1 − j^r)^b` with both powers as left-associated multiply
    * chains (no `pow`), mirroring the generated oracle token-for-token. */
  private[operators] def sCurveProb(j: Double, b: Int, r: Int): Double = {
    var jr = j
    for (_ <- 2 to r) jr *= j
    val f = 1.0 - jr
    var fb = f
    for (_ <- 2 to b) fb *= f
    1.0 - fb
  }

  /** LSH parameter PLANNER: for every power-of-two (bands, rows) split of
    * the `k`-slot signature, the S-curve numbers (collision threshold
    * `(1/b)^(1/r)`, collision probability at the calibration jaccards)
    * AND the MEASURED distinct candidate-pair count at that banding over
    * the corpus — the table that picks (b, r) before a dedup run commits
    * to a cutoff (theory alone misjudges a corpus whose similarity mass
    * sits on the curve's shoulder; the measured pair count is the cost
    * side of the dial). Signatures are computed ONCE and re-banded per
    * combo; at production scale run the planner on a sample — the
    * candidate count scales linearly for fixed bucket-collision rates,
    * and the probability columns are corpus-free. */
  def lshPlan(df: DataFrame, idCol: String, textCol: String,
              shingleN: Int, k: Int,
              js: Seq[Double] = Seq(0.5, 0.7, 0.9)): DataFrame = {
    require(Integer.bitCount(k) == 1, s"signature length $k must be a power of two")
    val spark = df.sparkSession
    import spark.implicits._
    val sigs = minhashSignatures(df, idCol, textCol, shingleN, k)
      .filter(col("sig").isNotNull).cache()
    def round4(x: Double): Double =
      java.math.BigDecimal.valueOf(x).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    val combos = (0 to 30).map(1 << _).filter(_ <= k)
    val rows = combos.map { b =>
      val r = k / b
      val idx = sigs.select(col("doc"),
        posexplode(bandHashes(col("sig"), b, r)).as(Seq("band_idx", "band_hash")))
      val n = idx.as("a")
        .join(idx.as("c"), Seq("band_idx", "band_hash"))
        .filter(col("a.doc") < col("c.doc"))
        .select(col("a.doc").as("x"), col("c.doc").as("y")).distinct()
        .count()
      (b.toLong, r.toLong, round4(sCurveThreshold(b, r)),
        round4(sCurveProb(js(0), b, r)), round4(sCurveProb(js(1), b, r)),
        round4(sCurveProb(js(2), b, r)), n)
    }
    sigs.unpersist()
    rows.toDF("bands", "rows_per_band", "threshold",
      "p_at_j05", "p_at_j07", "p_at_j09", "n_candidates")
  }

  /** CONTAINMENT scoring over LSH candidate pairs — the asymmetric
    * relation Jaccard structurally misses: a short quote inside a long
    * article has |A∩B|/|A∪B| ≈ 0 but |A∩B|/|A| ≈ 1. Score =
    * n_common / min(n_a, n_b) (containment of the smaller side), with
    * `contained` the integer-exact 10·n_common ≥ minPermille·min(n)/100
    * gate — no float threshold compare.
    *
    * Scale shape: pair generation stays inside the banding machinery
    * (bounded buckets, never all-pairs); the intersection count is two
    * equi-joins of the BOUNDED pair list against distinct (doc, gram)
    * frames — cost O(pairs × grams-per-doc), not corpus². Docs with no
    * shingle (< n tokens) drop with their pairs by the inner size join
    * (a containment over an empty set is undefined, not 1.0). */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       shingleN: Int = 3, k: Int = 8, bands: Int = 4,
                       minPermille: Int = 900): DataFrame = {
    require(minPermille >= 0 && minPermille <= 1000, s"bad permille: $minPermille")
    val pairs = lshCandidatePairs(df, idCol, textCol, shingleN, k, bands)
      .select("doc_a", "doc_b")
    val grams = df.select(col(idCol).as("doc"),
        explode(array_distinct(TextOps.shingles(TextOps.tokens(col(textCol)), shingleN))).as("g"))
    val sizes = grams.groupBy("doc").agg(count(lit(1)).as("n"))
    val inter = pairs
      .join(grams.select(col("doc").as("doc_a"), col("g")), Seq("doc_a"))
      .join(grams.select(col("doc").as("doc_b"), col("g")), Seq("doc_b", "g"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_common"))
    pairs
      .join(sizes.select(col("doc").as("doc_a"), col("n").as("n_a")), Seq("doc_a"))
      .join(sizes.select(col("doc").as("doc_b"), col("n").as("n_b")), Seq("doc_b"))
      .join(inter, Seq("doc_a", "doc_b"), "left_outer")
      .select(col("doc_a"), col("doc_b"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        col("n_a"), col("n_b"))
      .withColumn("containment",
        round(col("n_common").cast("double") / least(col("n_a"), col("n_b")), 4))
      .withColumn("contained",
        col("n_common") * 1000 >= least(col("n_a"), col("n_b")) * minPermille)
  }

  /** EXACT-threshold set-similarity self-join via prefix filtering
    * (AllPairs/PPJoin family) — the deterministic complement to LSH:
    * every pair with token-set Jaccard ≥ θ is returned, no
    * probabilistic recall, no band tuning. The filter is the classic
    * theorem: order each set by GLOBAL token rarity (df ascending,
    * token tiebreak); if J(a,b) ≥ θ, the first `|x| − ⌈θ·|x|⌉ + 1`
    * tokens of a and b share at least one element — so only sets
    * sharing a PREFIX token become candidates, and prefixes hold the
    * RAREST tokens, which is what keeps the token-join groups small.
    *
    * Scale shape: one groupBy for the df table, one explode+join+
    * regroup to order sets rare-first, the candidate self-join on
    * prefix tokens (group size = prefix-token df, small by
    * construction), a length pre-filter (θ·max ≤ 1000·min), then one
    * exact verify per surviving candidate. A token common enough to
    * appear in prefixes of many sets re-creates the hot-gram problem —
    * same mitigation as the gram family (df cap / salting) if a corpus
    * needs it. Feed REPRESENTATIVES (post exact-dedup) — identical
    * sets pair quadratically and are exact dedup's job, not a
    * similarity join's.
    *
    * Output: `(id_a, id_b, jac_permille)` with id_a < id_b and
    * jac_permille = ⌊1000·|∩|/|∪|⌋ exact integer arithmetic. */
  /** (sid, ts) → the prefix rows `(sid, n, pos, tok)` under a GIVEN
    * global token ordering `dfs = (tok, df)`: per set, tokens sort
    * rare-first by (df, tok) — a token absent from `dfs` takes df = 0,
    * sorting before every known token (rarest), which keeps the order a
    * consistent TOTAL order over the union when a new batch probes a
    * FROZEN corpus ordering ([[incrementalPrefixPairs]]) — and the
    * first `n − ⌈θ·n⌉ + 1` tokens explode with their 0-based position
    * for the PPJoin positional filter. */
  private[operators] def prefixFrame(sets: DataFrame, dfs: DataFrame,
                                     thetaPermille: Int): DataFrame = {
    val toks = sets.select(col("sid"), explode(col("ts")).as("tok"))
    val ordered = toks
      .join(dfs, Seq("tok"), "left_outer")
      .select(col("sid"), col("tok"), coalesce(col("df"), lit(0L)).as("df"))
      .groupBy("sid")
      .agg(transform(array_sort(collect_list(struct(col("df"), col("tok")))),
        x => x.getField("tok")).as("ot"))
      .withColumn("n", size(col("ot")))
      .withColumn("p", { // n − ⌈θ·n/1000⌉ + 1, exact long arithmetic
        val tn = col("n").cast("long") * thetaPermille + 999L
        col("n") - ((tn - tn % 1000L) / 1000L).cast("long") + 1
      })
    ordered.select(col("sid"), col("n"),
      posexplode(slice(col("ot"), lit(1), greatest(col("p"), lit(0)).cast("int"))))
      .toDF("sid", "n", "pos", "tok")
  }

  /** The PPJoin candidate filters shared by the one-shot and
    * incremental paths: length (J ≥ θ needs θ·max ≤ 1000·min) and the
    * per-shared-token positional cap (overlap ≤ min(n_a − pa, n_b − pb)
    * must reach ⌈θ(n_a+n_b)/(1000+θ)⌉). */
  private def ppjoinFilters(cands: DataFrame, thetaPermille: Int): DataFrame =
    cands
      .filter(greatest(col("a.n"), col("b.n")).cast("long") * thetaPermille <=
        least(col("a.n"), col("b.n")).cast("long") * 1000)
      .filter(least(col("a.n") - col("a.pos"), col("b.n") - col("b.pos")).cast("long") *
        (1000L + thetaPermille) >=
        (col("a.n") + col("b.n")).cast("long") * thetaPermille)

  /** Exact verify + permille rendering over candidate `(id_a, id_b)`
    * rows, with token sets looked up from `lookup = (sid, ts)`.
    * The intersect is the allocation-free sorted-merge
    * [[graft.expressions.SortedIntersectSize]] — `ts` is
    * `array_sort(array_distinct(...))` everywhere (fresh AND stored
    * sets are written in that form), which is exactly its contract;
    * the built-in `size(array_intersect)` built a per-row hash set and
    * materialized the intersection array only to take its length.
    * (Moving the callers' candidate distinct AFTER this verify was
    * measured 1.7-2.3× SLOWER despite shuffling less: the distinct's
    * exchange is also the barrier that keeps the candidate flood from
    * fusing into the verify stage's codegen pipeline.) */
  private def verifyPairs(cands: DataFrame, lookup: DataFrame, thetaPermille: Int,
                          gate: DataFrame => DataFrame): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    def isize(a: Column, b: Column) = Bridge.column(
      graft.expressions.SortedIntersectSize(Bridge.expression(a), Bridge.expression(b)))
    val verify = cands
      .join(gate(lookup.select(col("sid").as("id_a"), col("ts").as("ts_a"))), Seq("id_a"))
      .join(gate(lookup.select(col("sid").as("id_b"), col("ts").as("ts_b"))), Seq("id_b"))
      .withColumn("_i", isize(col("ts_a"), col("ts_b")))
      .withColumn("_u",
        (size(col("ts_a")) + size(col("ts_b"))).cast("long") - col("_i"))
      .filter(col("_i") * 1000 >= col("_u") * thetaPermille)
    verify.select(col("id_a"), col("id_b"),
      (((col("_i") * 1000) - (col("_i") * 1000) % col("_u")) / col("_u"))
        .cast("long").as("jac_permille"))
  }

  // hotDf default measured on the ×10-replicated corpus (PLANS.md,
  // "hotDf calibration"): 65536 left every rep token cold (maxTask/p95
  // 2.6, 101 s); 4096 flattened it (1.01, 45 s, identical pairs) and holds par on
  // the unreplicated corpus; 1024 over-salts (moderate-df tokens pay
  // the 32× a-side replication without the df² mass to amortize it).
  def prefixFilterPairs(df: DataFrame, idCol: String, tokensCol: String,
                        thetaPermille: Int, hotDf: Long = 4096L): DataFrame = {
    require(thetaPermille >= 1 && thetaPermille <= 1000,
      s"thetaPermille in [1,1000] (got $thetaPermille)")
    require(hotDf >= 2, s"hotDf must be >= 2 (got $hotDf)")
    // sets feeds the df table, the prefix build, AND both verify sides —
    // materialize once (callers feed post-exact-dedup REPRESENTATIVES,
    // a frame far smaller than the corpus; without this the tokenize +
    // df join recomputes per consumer and dominates the runtime)
    // ids key the candidate join through `a.sid < b.sid`, so a null
    // (either a null input id or a non-numeric id the cast swallowed)
    // would DROP that set from the output silently — raise instead
    // (Coalesce short-circuits: the error expression never runs on the
    // non-null path)
    val sets = df.select(
      coalesce(col(idCol).cast("long"), raise_error(concat(
        lit(s"prefixFilterPairs: id column '$idCol' must be numeric and non-null; got "),
        coalesce(col(idCol).cast("string"), lit("null"))))).as("sid"),
      array_sort(array_distinct(col(tokensCol))).as("ts"))
      .localCheckpoint()
    val toks = sets.select(col("sid"), explode(col("ts")).as("tok"))
    val dfs = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    // both sides of the candidate self-join read this frame; one row per
    // prefix token (a small multiple of the representative count), with
    // its 0-based position for the positional filter below
    val prefix = prefixFrame(sets, dfs, thetaPermille).localCheckpoint()
    // size gate off the materialized frame: under ~2M representatives
    // the set/prefix frames broadcast, so the candidate flood (the only
    // big frame in the plan) never shuffles for its joins — only the
    // distinct pays an exchange. Past the gate every join degrades to
    // the plain shuffle and the plan stays correct.
    val gate = if (sets.count() <= 2000000L) (f: DataFrame) => broadcast(f)
               else (f: DataFrame) => f
    // HOT-TOKEN guard: once the broadcast gate flips to shuffle joins, a
    // prefix token shared by k sets puts all k² candidate pairs in ONE
    // task — the unsplittable hot key the gram family guards with
    // exactRunCoverage's hotDf split. Same split here: tokens whose
    // PREFIX df reaches `hotDf` route through a 32-way SALTED self-join
    // (the a-side replicates over the salt, the b-side keys on
    // sid % 32), bounding the hottest task at k²/32 while producing
    // each unordered pair exactly once (x<y meets at salt y % 32); cold
    // tokens keep the plain join, every key < hotDf rows by
    // construction. The hot-token LIST is bounded by rows/hotDf and
    // broadcasts. Default hotDf clears every key the cold join handles
    // comfortably; the spec pins output invariance across hotDf.
    val hotToks = prefix.groupBy("tok").agg(count(lit(1)).as("_pdf"))
      .filter(col("_pdf") >= hotDf).select("tok")
    val hotP = prefix.join(broadcast(hotToks), Seq("tok"), "left_semi")
    val coldP = prefix.join(broadcast(hotToks), Seq("tok"), "left_anti")
    // PPJoin candidate join: length filter, then the per-shared-token
    // positional cap OR'd by the distinct — a safe (weaker-than-classic)
    // prune that cuts the distinct's input ~6× on prefix-heavy corpora,
    // where the join flood, not the verify, is the bill.
    val coldCands = ppjoinFilters(
      coldP.as("a").join(gate(coldP.as("b")),
        col("a.tok") === col("b.tok") && col("a.sid") < col("b.sid")),
      thetaPermille)
      .select(col("a.sid").as("id_a"), col("b.sid").as("id_b"))
    val salts = 32
    val hotCands = ppjoinFilters(
      hotP.withColumn("_s", explode(sequence(lit(0), lit(salts - 1)))).as("a")
        .join(hotP.withColumn("_s", pmod(col("sid"), lit(salts)).cast("int")).as("b"),
          col("a.tok") === col("b.tok") && col("a._s") === col("b._s") &&
            col("a.sid") < col("b.sid")),
      thetaPermille)
      .select(col("a.sid").as("id_a"), col("b.sid").as("id_b"))
    val cands = coldCands.unionByName(hotCands).distinct()
    verifyPairs(cands, sets, thetaPermille, gate)
  }

  /** Persist the exact-threshold join's reusable parts — the frozen
    * global token ordering `dfs/`, the corpus token sets `sets/`, and
    * the corpus prefix rows `prefix/` (plus `meta/` pinning θ) — so an
    * arriving batch probes a STORED index instead of re-tokenizing and
    * re-ordering the corpus per run (the [[bandIndex]] /
    * incrementalLshPairs arrival-path precedent, closing the one dedup
    * family that lacked it). Rebuild refreshes the df ordering;
    * staleness costs prefix-length efficiency only, never recall,
    * because ANY fixed total order satisfies the prefix theorem.
    *
    * Rebuild over an EXISTING index is destructive and offline (quiesce
    * the appender first): it deletes the live `sets/`/`prefix/`
    * partitions AND the compacted base generations, then clears the
    * [[graft.streaming.BatchLedger]] pointers. Without all three, a
    * rebuild after appends/compaction serves stale state — dynamic
    * partition overwrite (session-global in the append paths) would
    * only replace `batch=-1`, leaving old `batch=N` partitions to
    * duplicate sids, and a committed pointer would keep resolving the
    * OLD base while excluding the rebuilt `batch=-1` rows (live filter
    * is `batch ≥ horizon > −1`). Spec-pinned: rebuild-after-append and
    * rebuild-after-compact both serve exactly the rebuilt corpus. */
  def prefixIndexBuild(df: DataFrame, idCol: String, tokensCol: String,
                       thetaPermille: Int, dir: String): Unit = {
    require(thetaPermille >= 1 && thetaPermille <= 1000,
      s"thetaPermille in [1,1000] (got $thetaPermille)")
    val spark = df.sparkSession
    import spark.implicits._
    val conf = spark.sessionState.newHadoopConf()
    Seq(s"$dir/sets", s"$dir/prefix", s"$dir/base/sets", s"$dir/base/prefix")
      .foreach { d =>
        val p = new org.apache.hadoop.fs.Path(d)
        val fs = p.getFileSystem(conf)
        if (fs.exists(p)) fs.delete(p, true)
      }
    graft.streaming.BatchLedger.resetPointer(dir, pointerKey("sets"))
    graft.streaming.BatchLedger.resetPointer(dir, pointerKey("prefix"))
    val sets = df.select(
      coalesce(col(idCol).cast("long"), raise_error(
        lit(s"prefixIndexBuild: id column '$idCol' must be numeric and non-null"))).as("sid"),
      array_sort(array_distinct(col(tokensCol))).as("ts"))
      .localCheckpoint()
    // sets/prefix are batch-partitioned (base = batch=-1) so later
    // arrivals APPEND as their own partitions with dynamic overwrite —
    // a replayed append rewrites only its own partition (idempotent,
    // the StreamingDedup ledger shape)
    sets.withColumn("batch", lit(-1L))
      .write.mode("overwrite").option("partitionOverwriteMode", "static")
      .partitionBy("batch").parquet(s"$dir/sets")
    val dfs = sets.select(col("sid"), explode(col("ts")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("df"))
      .localCheckpoint()
    dfs.write.mode("overwrite").parquet(s"$dir/dfs")
    prefixFrame(sets, dfs, thetaPermille).withColumn("batch", lit(-1L))
      .write.mode("overwrite").option("partitionOverwriteMode", "static")
      .partitionBy("batch").parquet(s"$dir/prefix")
    Seq(Tuple1(thetaPermille.toLong)).toDF("theta_permille")
      .write.mode("overwrite").parquet(s"$dir/meta")
    sets.unpersist(blocking = false)
    dfs.unpersist(blocking = false)
  }

  private def pointerKey(sub: String) = s"ppidx.$sub.base"

  /** Fold live `sets/` + `prefix/` partitions with `batch < belowBatch`
    * into compacted base snapshots via [[graft.streaming.BatchLedger]]'s
    * atomic pointer swap — the small-files story for a continuously
    * appended dedup index (thousands of per-batch partitions
    * otherwise). Identity absorb: sids are disjoint across batches by
    * the append contract. Same rules as every ledger compaction:
    * single maintainer, `belowBatch` at or below the replayable
    * horizon. The df table and meta are never partitioned and never
    * compact. */
  def prefixIndexCompact(spark: org.apache.spark.sql.SparkSession,
                         dir: String, belowBatch: Long): Unit = {
    graft.streaming.BatchLedger.compact(spark, dir, "sets", pointerKey("sets"), belowBatch)
    graft.streaming.BatchLedger.compact(spark, dir, "prefix", pointerKey("prefix"), belowBatch)
  }

  /** Fold a PROBED batch into the stored index as its own partition —
    * the continuous-arrival step after [[incrementalPrefixPairs]]: the
    * batch's sets and prefix rows (computed under the index's FROZEN
    * ordering, so every future probe stays exact) land under
    * `batch=<batchId>` with dynamic partition overwrite — a replayed
    * append rewrites only itself. The df table deliberately does NOT
    * update (it is the frozen order's definition); [[prefixIndexDrift]]
    * measures when the frozen ordering's candidate mass has drifted
    * enough that a [[prefixIndexBuild]] rebuild pays for itself.
    * Single-writer per index, the ledger contract. */
  def prefixIndexAppend(batch: DataFrame, idCol: String, tokensCol: String,
                        dir: String, batchId: Long): Unit = {
    require(batchId >= 0, s"batchId must be >= 0 (got $batchId)")
    val spark = batch.sparkSession
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val theta = spark.read.parquet(s"$dir/meta").head().getLong(0).toInt
    val dfs = spark.read.parquet(s"$dir/dfs")
    val bsets = batch.select(
      coalesce(col(idCol).cast("long"), raise_error(
        lit(s"prefixIndexAppend: id column '$idCol' must be numeric and non-null"))).as("sid"),
      array_sort(array_distinct(col(tokensCol))).as("ts"))
      .localCheckpoint()
    bsets.withColumn("batch", lit(batchId))
      .write.mode("overwrite").partitionBy("batch").parquet(s"$dir/sets")
    prefixFrame(bsets, dfs, theta).withColumn("batch", lit(batchId))
      .write.mode("overwrite").partitionBy("batch").parquet(s"$dir/prefix")
    bsets.unpersist(blocking = false)
  }

  /** Staleness telemetry for a stored prefix index — the measured
    * rebuild trigger the scaladoc's "periodic rebuild" previously
    * lacked. The frozen ordering is recall-exact forever (any total
    * order satisfies the prefix theorem), and the prefix ROW count is
    * even ordering-independent (p = n − ⌈θn/1000⌉ + 1 per set); what
    * drifts is WHICH tokens occupy the prefixes: as vocabulary shifts,
    * once-rare tokens that the frozen order still ranks rare become
    * common, land in many prefixes, and bloat the candidate join. The
    * metric is therefore the CANDIDATE MASS the probe join actually
    * pays — Σ over tokens of C(cnt, 2) where cnt is the number of
    * stored sets whose prefix holds that token — for the stored
    * ordering vs a fresh-df recomputation over the same sets.
    * One row: `(stored_sets, stored_candidate_mass,
    * fresh_candidate_mass, drift_permille)` with drift 1000 ⇒ the
    * orderings agree; measured guidance (PLANS.md, "Prefix-index
    * staleness telemetry"): rebuild at drift ≥ ~1500, where the stored
    * probe's
    * candidate join pays ≥ 1.5× the fresh plan's. Cost: one pass over
    * the stored sets + prefixes — run it at maintenance cadence, not
    * per batch. */
  def prefixIndexDrift(spark: org.apache.spark.sql.SparkSession,
                       dir: String): DataFrame = {
    import spark.implicits._
    val theta = spark.read.parquet(s"$dir/meta").head().getLong(0).toInt
    def readOr(sub: String, empty: => DataFrame) =
      graft.streaming.BatchLedger.read(spark, dir, sub, pointerKey(sub),
        None, empty).drop("batch")
    val sets = readOr("sets", Seq.empty[(Long, Seq[String])].toDF("sid", "ts"))
      .localCheckpoint()
    val stored = readOr("prefix",
      Seq.empty[(Long, Int, Int, String)].toDF("sid", "n", "pos", "tok"))
    val freshDfs = sets.select(col("sid"), explode(col("ts")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("df"))
    val fresh = prefixFrame(sets, freshDfs, theta)
    def mass(prefix: DataFrame): Long = prefix
      .groupBy("tok").agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(col("c") * (col("c") - 1)), lit(0L)).as("m"))
      .head().getLong(0) / 2 // c(c−1) is even; halve exactly on the driver
    val sm = mass(stored)
    val fm = mass(fresh)
    val n = sets.count()
    sets.unpersist(blocking = false)
    val drift = if (fm == 0L) 1000L else sm * 1000L / fm
    Seq((n, sm, fm, drift)).toDF(
      "stored_sets", "stored_candidate_mass", "fresh_candidate_mass", "drift_permille")
  }

  /** Exact-threshold pairs INVOLVING a new batch against a stored
    * prefix index: batch-vs-corpus candidates probe the stored prefix
    * rows, batch-vs-batch candidates self-join the batch's own prefix
    * rows (both under the index's FROZEN token ordering — unseen batch
    * tokens take df 0 and sort first, so the order stays a total order
    * over the union and the prefix theorem holds exactly; see
    * [[prefixFrame]]). Together with the pairs the index's corpus
    * already produced, the union is EXACTLY
    * `prefixFilterPairs(corpus ∪ batch)` (ids must be disjoint across
    * the two — spec-pinned). Output: `(id_a, id_b, jac_permille)`,
    * id_a < id_b. */
  def incrementalPrefixPairs(batch: DataFrame, idCol: String, tokensCol: String,
                             dir: String, belowBatch: Option[Long] = None): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    val theta = spark.read.parquet(s"$dir/meta")
      .head().getLong(0).toInt
    val bsets = batch.select(
      coalesce(col(idCol).cast("long"), raise_error(
        lit(s"incrementalPrefixPairs: id column '$idCol' must be numeric and non-null"))).as("sid"),
      array_sort(array_distinct(col(tokensCol))).as("ts"))
      .localCheckpoint()
    // ledger reads through BatchLedger: compacted base ∪ live batch
    // partitions, schema-safe on the empty-seed cold start; `belowBatch`
    // prunes partitions ≥ the replaying batch so a replay never probes
    // its own previous attempt
    def readOr(sub: String, empty: => DataFrame) =
      graft.streaming.BatchLedger.read(spark, dir, sub, pointerKey(sub),
        belowBatch, empty).drop("batch")
    val dfs = scala.util.Try(spark.read.parquet(s"$dir/dfs")).toOption
      .getOrElse(Seq.empty[(String, Long)].toDF("tok", "df"))
    val bprefix = prefixFrame(bsets, dfs, theta).localCheckpoint()
    val cprefix = readOr("prefix",
      Seq.empty[(Long, Int, Int, String)].toDF("sid", "n", "pos", "tok"))
    val csets = readOr("sets", Seq.empty[(Long, Seq[String])].toDF("sid", "ts"))
    // the batch side is the small one — gate ITS broadcast, so the
    // corpus-sized stored frames never move for the candidate joins
    val gate = if (bsets.count() <= 2000000L) (f: DataFrame) => broadcast(f)
               else (f: DataFrame) => f
    val cross = ppjoinFilters(
      cprefix.as("a").join(gate(bprefix.as("b")),
        col("a.tok") === col("b.tok") && col("a.sid") =!= col("b.sid")),
      theta)
      .select(least(col("a.sid"), col("b.sid")).as("id_a"),
        greatest(col("a.sid"), col("b.sid")).as("id_b"))
    val within = ppjoinFilters(
      bprefix.as("a").join(gate(bprefix.as("b")),
        col("a.tok") === col("b.tok") && col("a.sid") < col("b.sid")),
      theta)
      .select(col("a.sid").as("id_a"), col("b.sid").as("id_b"))
    val cands = cross.unionByName(within).distinct()
    // the verify lookup spans the CORPUS sets — never broadcast it; the
    // candidate frame is the small side and AQE broadcasts that
    verifyPairs(cands, csets.unionByName(bsets), theta, identity)
  }
}
