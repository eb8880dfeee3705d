package graft.ingest

import graft.SparkSpec
import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** Stored vector-index lifecycle: train → publish → query through the
  * stored artifact, version flips, as-of loads, and survival across
  * metadata-log checkpoint churn. */
class VectorIndexSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(47)
  private def vec(dims: Int) = Seq.fill(dims)(rnd.nextFloat() * 2 - 1)
  private def corpusDF(n: Int, dims: Int) =
    (0L until n.toLong).map(i => (i, vec(dims))).toDF("id", "v")
      .select(col("id"), col("v").cast("array<float>").as("v"))

  test("train → publish → load round-trips centroids and codebooks") {
    val store = new TableStore(spark, tmpDir("graft-vidx"), nBuckets = 2)
    val corpus = corpusDF(120, 16).localCheckpoint()
    val trained = VectorIndex.train(store, "main", corpus, "id", "v",
      nlist = 6, iters = 2, pqM = 4, pqK = 8)
    val loaded = VectorIndex.load(store, "main")
    assert(loaded.centroids == trained.centroids)
    assert(loaded.codebooks.get == trained.codebooks.get)
    assert(loaded.nlist == 6 && loaded.dims == 16)
  }

  test("stored-index query equals the ad-hoc call with the same centroids") {
    val store = new TableStore(spark, tmpDir("graft-vidx-q"), nBuckets = 2)
    val corpus = corpusDF(150, 16).localCheckpoint()
    val centroids = corpus.filter(col("id") < 8)
    VectorIndex.publish(store, "seeds", centroids)
    val queries = corpus.filter(col("id") >= 140)
    val stored = VectorIndex.ivfTopKBatch(store, "seeds",
      corpus.filter(col("id").between(8, 139)), "id", "v",
      queries, "id", k = 5, probes = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val adhoc = Similarity.ivfTopKBatch(
      corpus.filter(col("id").between(8, 139)), "id", "v", centroids, "id",
      queries, "id", k = 5, probes = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(stored == adhoc && stored.nonEmpty)
  }

  test("retrain flips the pointer atomically; loadAt reads the old version") {
    val store = new TableStore(spark, tmpDir("graft-vidx-v"), nBuckets = 2)
    val corpus = corpusDF(100, 8).localCheckpoint()
    val v1 = VectorIndex.publish(store, "main", corpus.filter(col("id") < 4))
    val versionAfterV1 = store.metaVersion
    val v2 = VectorIndex.publish(store, "main", corpus.filter(col("id").between(10, 15)))
    assert(v1.dir != v2.dir, "retrain must write a fresh immutable payload dir")
    assert(VectorIndex.load(store, "main").centroids == v2.centroids)
    val old = VectorIndex.loadAt(store, "main", versionAfterV1)
    assert(old.centroids == v1.centroids, "as-of load must see the old artifact")
  }

  test("index survives metadata-log checkpoint churn and readOnly reopen") {
    val root = tmpDir("graft-vidx-cp")
    val store = new TableStore(spark, root, nBuckets = 2, metaCheckpointInterval = 8)
    val corpus = corpusDF(60, 8).localCheckpoint()
    val published = VectorIndex.publish(store, "main", corpus.filter(col("id") < 5))
    // push the log through several checkpoints (trims old records)
    (0 until 40).foreach(i => store.commit(sets = Seq(s"churn.$i" -> i.toString)))
    assert(VectorIndex.load(store, "main").centroids == published.centroids)
    // a fresh read-only store (another JVM's view) sees the same index
    val reader = new TableStore(spark, root, nBuckets = 2, readOnly = true)
    assert(VectorIndex.load(reader, "main").centroids == published.centroids)
  }

  test("stored code table: scanCodesTopKBatch equals the vector-reading batch") {
    val store = new TableStore(spark, tmpDir("graft-vidx-codes"), nBuckets = 2)
    val corpus = corpusDF(200, 16).localCheckpoint()
    val centroids = corpus.filter(col("id") < 8)
    val cb = Similarity.pqCodebooksFromRows(
      corpus.filter(col("id").between(8, 23)).orderBy("id")
        .collect().map(_.getSeq[Float](1).toSeq).toSeq, m = 4)
    VectorIndex.publish(store, "pq", centroids, Some(cb))
    val body = corpus.filter(col("id") >= 24)
    val queries = corpus.filter(col("id") < 4)
    VectorIndex.encodeCorpus(store, "pq", body, "id", "v")
    val stored = VectorIndex.scanCodesTopKBatch(store, "pq", queries, "id", "v",
      k = 5, probes = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val direct = Similarity.ivfTopKBatch(body, "id", "v", centroids, "id",
      queries, "id", k = 5, probes = 2, pqCodebooks = Some(cb))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(stored == direct && stored.nonEmpty)
    // the stored scan must not read a vector column
    val plan = VectorIndex.scanCodesTopKBatch(store, "pq", queries, "id", "v",
      k = 5, probes = 2).queryExecution.executedPlan.toString
    assert(!plan.contains("ReadSchema: struct<id:bigint,v:"),
      "code scan should read (id, cid, codes), never the float vectors")
  }

  test("vacuum removes only unreferenced payload dirs") {
    val store = new TableStore(spark, tmpDir("graft-vidx-vac"), nBuckets = 2)
    val corpus = corpusDF(60, 8).localCheckpoint()
    val v1 = VectorIndex.publish(store, "main", corpus.filter(col("id") < 4))
    val v2 = VectorIndex.publish(store, "main", corpus.filter(col("id").between(10, 13)))
    val removed = VectorIndex.vacuum(store, "main")
    assert(removed == Seq(v1.dir), "only the superseded payload goes")
    assert(VectorIndex.load(store, "main").centroids == v2.centroids)
    assert(VectorIndex.vacuum(store, "main").isEmpty, "second vacuum is a no-op")
  }

  test("vacuum under a trailing-slash store root spares the live payload") {
    val store = new TableStore(spark, tmpDir("graft-vidx-slash") + "/", nBuckets = 2)
    val corpus = corpusDF(40, 8).localCheckpoint()
    val live = VectorIndex.publish(store, "main", corpus.filter(col("id") < 4))
    assert(VectorIndex.vacuum(store, "main").isEmpty,
      "the only payload is the live one — nothing may be deleted")
    assert(VectorIndex.load(store, "main").centroids == live.centroids)
  }

  test("loading an unknown index fails loudly") {
    val store = new TableStore(spark, tmpDir("graft-vidx-e"), nBuckets = 2)
    val e = intercept[IllegalArgumentException](VectorIndex.load(store, "nope"))
    assert(e.getMessage.contains("nope"))
  }

  test("appendCorpus: the segment-union query equals one-shot assignment over the union") {
    val store = new TableStore(spark, tmpDir("graft-vidx-app"), nBuckets = 2)
    val corpus = corpusDF(220, 16).localCheckpoint()
    val centroids = corpus.filter(col("id") < 8)
    VectorIndex.publish(store, "inc", centroids)
    val dayOne = corpus.filter(col("id").between(8, 119))
    val dayTwo = corpus.filter(col("id").between(120, 209))
    val queries = corpus.filter(col("id") >= 210)
    VectorIndex.appendCorpus(store, "inc", dayOne, "id", "v")
    VectorIndex.appendCorpus(store, "inc", dayTwo, "id", "v")
    assert(VectorIndex.readEncoded(store, "inc").count() == 112 + 90)
    val viaSegs = VectorIndex.ivfSegmentsTopKBatch(store, "inc", queries, "id", "v",
      k = 5, probes = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val oneShot = Similarity.ivfTopKBatch(dayOne.unionByName(dayTwo), "id", "v",
      centroids, "id", queries, "id", k = 5, probes = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(viaSegs == oneShot && viaSegs.nonEmpty)
  }

  test("appendCorpus on a PQ index stores codes and serves ADC without the vectors") {
    val store = new TableStore(spark, tmpDir("graft-vidx-apq"), nBuckets = 2)
    val corpus = corpusDF(200, 16).localCheckpoint()
    val centroids = corpus.filter(col("id") < 8)
    val cb = Similarity.pqCodebooksFromRows(
      corpus.filter(col("id").between(8, 23)).orderBy("id")
        .collect().map(_.getSeq[Float](1).toSeq).toSeq, m = 4)
    VectorIndex.publish(store, "pqinc", centroids, Some(cb))
    val body = corpus.filter(col("id") >= 24)
    val queries = corpus.filter(col("id") < 4)
    VectorIndex.appendCorpus(store, "pqinc", body, "id", "v")
    val viaSegs = VectorIndex.ivfSegmentsTopKBatch(store, "pqinc", queries, "id", "v",
      k = 5, probes = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val direct = Similarity.ivfTopKBatch(body, "id", "v", centroids, "id",
      queries, "id", k = 5, probes = 2, pqCodebooks = Some(cb))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(viaSegs == direct && viaSegs.nonEmpty)
    val plan = VectorIndex.ivfSegmentsTopKBatch(store, "pqinc", queries, "id", "v",
      k = 5, probes = 2).queryExecution.executedPlan.toString
    assert(!plan.contains("ReadSchema: struct<id:bigint,v:"),
      "segment ADC scan reads (id, cid, codes), never the float vectors")
  }

  test("append is atomic in the log: as-of sees the pre-append segment list") {
    val store = new TableStore(spark, tmpDir("graft-vidx-asof"), nBuckets = 2)
    val corpus = corpusDF(160, 8).localCheckpoint()
    VectorIndex.publish(store, "inc", corpus.filter(col("id") < 4))
    VectorIndex.appendCorpus(store, "inc", corpus.filter(col("id").between(4, 99)), "id", "v")
    val vAfterFirst = store.metaVersion
    VectorIndex.appendCorpus(store, "inc", corpus.filter(col("id") >= 100), "id", "v")
    assert(VectorIndex.readEncoded(store, "inc").count() == 156)
    assert(VectorIndex.readEncodedAt(store, "inc", vAfterFirst).count() == 96,
      "the as-of read must see exactly the first segment")
    val pinned = VectorIndex.ivfSegmentsTopKBatch(store, "inc",
      corpus.filter(col("id") < 2), "id", "v", k = 3, probes = 1,
      metaVersion = Some(vAfterFirst))
      .select("id").collect().map(_.getLong(0))
    assert(pinned.forall(_ < 100), "a pinned query can never see post-snapshot rows")
  }

  test("retrain invalidates old segments; append starts a fresh list") {
    val store = new TableStore(spark, tmpDir("graft-vidx-ret"), nBuckets = 2)
    val corpus = corpusDF(120, 8).localCheckpoint()
    VectorIndex.publish(store, "inc", corpus.filter(col("id") < 4))
    VectorIndex.appendCorpus(store, "inc", corpus.filter(col("id").between(4, 59)), "id", "v")
    VectorIndex.publish(store, "inc", corpus.filter(col("id").between(10, 13)))
    val e = intercept[IllegalArgumentException](VectorIndex.readEncoded(store, "inc"))
    assert(e.getMessage.contains("appendCorpus"),
      "old segments are bound to dead centroids and must not be served")
    VectorIndex.appendCorpus(store, "inc", corpus.filter(col("id") >= 60), "id", "v")
    assert(VectorIndex.readEncoded(store, "inc").count() == 60,
      "the fresh list holds only rows encoded under the new version")
  }

  test("appendCorpus refuses a readOnly store; the reader still serves segments") {
    val root = tmpDir("graft-vidx-ro")
    val store = new TableStore(spark, root, nBuckets = 2)
    val corpus = corpusDF(80, 8).localCheckpoint()
    VectorIndex.publish(store, "inc", corpus.filter(col("id") < 4))
    VectorIndex.appendCorpus(store, "inc", corpus.filter(col("id") >= 4), "id", "v")
    val reader = new TableStore(spark, root, nBuckets = 2, readOnly = true)
    assert(VectorIndex.readEncoded(reader, "inc").count() == 76,
      "a query-only session reads the segment union")
    intercept[IllegalStateException](
      VectorIndex.appendCorpus(reader, "inc", corpus.filter(col("id") < 4), "id", "v"))
  }

  test("concurrent appends never lose a segment (line-append registry)") {
    val store = new TableStore(spark, tmpDir("graft-vidx-conc"), nBuckets = 2)
    val corpus = corpusDF(244, 8).localCheckpoint()
    VectorIndex.publish(store, "inc", corpus.filter(col("id") < 4))
    // 8 appends from 4 threads: a set-valued list would drop segments to
    // read-modify-write races; the append-channel registry cannot
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val jobs = (0 until 8).map { b =>
      Future(VectorIndex.appendCorpus(store, "inc",
        corpus.filter(col("id").between(4 + b * 30, 33 + b * 30)), "id", "v"))
    }
    Await.result(Future.sequence(jobs), Duration.Inf)
    pool.shutdown()
    assert(VectorIndex.readEncoded(store, "inc").count() == 240,
      "all 8 concurrently-appended segments must be registered")
    assert(VectorIndex.readEncoded(store, "inc").select("id").distinct().count() == 240)
  }

  test("appendCorpus(maxSegments) keeps segment count bounded under continuous appends") {
    val store = new TableStore(spark, tmpDir("graft-vidx-cad"), nBuckets = 2)
    val corpus = corpusDF(240, 8).localCheckpoint()
    VectorIndex.publish(store, "inc", corpus.filter(col("id") < 4))
    for (b <- 0 until 8)
      VectorIndex.appendCorpus(store, "inc",
        corpus.filter(col("id").between(4 + b * 20, 23 + b * 20)), "id", "v",
        maxSegments = 3)
    // every row is queryable and the registered list never exceeded
    // maxSegments + 1 (compact-then-append)
    assert(VectorIndex.readEncoded(store, "inc").count() == 160)
    val segDirs = VectorIndex.readEncoded(store, "inc").inputFiles
      .map(f => f.substring(0, f.lastIndexOf('/'))).distinct
    assert(segDirs.length <= 4,
      s"cadence must bound live segments, got ${segDirs.length}")
    assert(VectorIndex.readEncoded(store, "inc")
      .select("id").distinct().count() == 160, "no row lost or duplicated by compaction")
  }

  test("two-level append with branches = nCoarse is bit-identical to flat append") {
    val store = new TableStore(spark, tmpDir("graft-vidx-2l"), nBuckets = 2)
    val corpus = corpusDF(160, 8).localCheckpoint()
    VectorIndex.publish(store, "tl", corpus.filter(col("id") < 9)) // nlist=9 ⇒ nCoarse=3
    val body = corpus.filter(col("id") >= 9)
    VectorIndex.appendCorpus(store, "tl", body, "id", "v", label = "flat")
    // branches == nCoarse searches every coarse cell: exhaustive ⇒ the
    // same argmax as flat, so the stored (id, cid) must match exactly
    VectorIndex.appendCorpus(store, "tl", body, "id", "v", label = "twolevel",
      coarseBranches = 3)
    def cells(label: String) =
      VectorIndex.readEncoded(store, "tl", label).select("id", "cid")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cells("twolevel") == cells("flat") && cells("flat").nonEmpty)
    // and the served answers agree bit-for-bit
    val queries = corpus.filter(col("id") < 5)
    def served(label: String) =
      VectorIndex.ivfSegmentsTopKBatch(store, "tl", queries, "id", "v",
        k = 4, probes = 2, label = label)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(served("twolevel") == served("flat"))
  }

  test("mixed-mode segment union: each segment is probed with its own geometry") {
    val store = new TableStore(spark, tmpDir("graft-vidx-mix"), nBuckets = 2)
    val corpus = corpusDF(200, 8).localCheckpoint()
    VectorIndex.publish(store, "mix", corpus.filter(col("id") < 9))
    val dayOne = corpus.filter(col("id").between(9, 99))
    val dayTwo = corpus.filter(col("id") >= 100)
    VectorIndex.appendCorpus(store, "mix", dayOne, "id", "v") // flat
    VectorIndex.appendCorpus(store, "mix", dayTwo, "id", "v",
      coarseBranches = 1) // APPROXIMATE two-level: cells may differ from flat
    // self-recall across the union: every appended vector, queried back,
    // must find ITSELF at sim 1.0 — guaranteed only if the probe list of
    // each segment uses the same (approximate) geometry that assigned it
    val queries = corpus.filter(col("id").between(9, 18))
      .unionByName(corpus.filter(col("id").between(100, 109)))
    val top1 = VectorIndex.ivfSegmentsTopKBatch(store, "mix", queries, "id", "v",
        k = 1, probes = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    queries.select("id").collect().map(_.getLong(0)).foreach { q =>
      assert(top1.get(q).contains(q), s"query $q must find itself in the mixed union")
    }
    // compaction preserves the mode split: one merged dir per mode
    assert(VectorIndex.compactSegments(store, "mix").size == 2)
    val after = VectorIndex.ivfSegmentsTopKBatch(store, "mix", queries, "id", "v",
        k = 1, probes = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(after == top1, "mode-preserving compaction changes no answer")
  }

  test("compactSegments merges to one dir; vacuum sweeps the superseded segments") {
    val store = new TableStore(spark, tmpDir("graft-vidx-cmp"), nBuckets = 2)
    val corpus = corpusDF(140, 8).localCheckpoint()
    VectorIndex.publish(store, "inc", corpus.filter(col("id") < 4))
    val s1 = VectorIndex.appendCorpus(store, "inc", corpus.filter(col("id").between(4, 69)), "id", "v")
    val s2 = VectorIndex.appendCorpus(store, "inc", corpus.filter(col("id") >= 70), "id", "v")
    val before = VectorIndex.ivfSegmentsTopKBatch(store, "inc",
      corpus.filter(col("id") < 2), "id", "v", k = 4, probes = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val merged = VectorIndex.compactSegments(store, "inc") match {
      case Seq(one) => one
      case other => fail(s"single-mode corpus must compact to one dir, got $other")
    }
    val after = VectorIndex.ivfSegmentsTopKBatch(store, "inc",
      corpus.filter(col("id") < 2), "id", "v", k = 4, probes = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(after == before && after.nonEmpty, "compaction must not change any answer")
    val removed = VectorIndex.vacuum(store, "inc")
    assert(removed.toSet == Set(s1, s2), "vacuum sweeps exactly the two pre-compaction segments")
    assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(merged)))
    assert(VectorIndex.readEncoded(store, "inc").count() == 136,
      "the compacted segment survives vacuum intact")
  }
}
