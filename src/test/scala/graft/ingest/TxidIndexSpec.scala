package graft.ingest

import graft.SparkSpec
import graft.codec.BlockCodec
import graft.model._
import graft.query.Api
import org.apache.spark.sql.functions._

/** Txid file-pruning index: per-file blooms committed with the manifest,
  * consulted by txid point lookups (SURVEY §4 — the reference leans on a
  * DB index for `WHERE txid = $1`; a file store needs a skipping index
  * because random txids defeat min/max stats). */
class TxidIndexSpec extends SparkSpec {
  import graft.Fixtures._

  test("bloom: membership, encode round-trip, bounded false-positive rate") {
    val keys = (0 until 1000).map(i => s"TXID$i%046d")
    val b = FileBloom.build(keys)
    assert(keys.forall(b.mightContain), "no false negatives, ever")
    val decoded = FileBloom.decode(b.encode)
    assert(keys.forall(decoded.mightContain))
    val fp = (0 until 10000).count(i => decoded.mightContain(s"OTHER$i"))
    assert(fp < 500, s"fpr ${fp / 10000.0} should be ~1%, far under 5%")
  }

  test("ingest commits a bloom per txn file; txid lookups prune to candidate files") {
    val store = new TableStore(spark, tmpDir("graft-txidix"), nBuckets = 4)
    import spark.implicits._
    BlockIngest.initGenesis(store, Seq((A, 1000000L, "{}")), network = "net")
    // Three separate batches → at least three committed txn files.
    for (batch <- 0 until 3) {
      val blocks = (0 until 2).map { i =>
        val r = batch * 2 + i
        block(r.toLong, Vector(pay(A, B, 100 + r), pay(B, A, 7 + r)))
      }
      BlockIngest.applyBlocks(store, spark.createDataset(blocks.map(BlockCodec.blockToJson)))
    }
    val files = store.manifest("txn")
    assert(files.size >= 3)
    val blooms = store.fileBloomRaw("txn", "txid")
    assert(files.forall(blooms.contains), "every committed file carries a bloom")

    // Pick a real root txid and its home file: the lookup must keep that
    // file and (with 1% fpp over 3 tiny files) prune the others.
    val sample = store.read("txn").filter(col("txid").isNotNull)
      .select("txid", "round").collect().head
    val (txid, round) = (sample.getString(0), sample.getLong(1))
    val cands = store.bloomCandidateFiles("txn", "txid", txid)
    assert(cands.nonEmpty && cands.size < files.size,
      s"expected pruning: ${cands.size} of ${files.size} files")

    // The Api path returns exactly the row, and matches the unoptimized path.
    def lookup(skip: Boolean) =
      Api.transactions(store, Api.TransactionFilter(txid = Some(txid), skipOptimization = skip))
        ._1.select("round", "intra").collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(lookup(skip = false) == lookup(skip = true))
    assert(lookup(skip = false).map(_._1) == Seq(round))

    // A txid that exists nowhere prunes everything (up to bloom fpp —
    // deterministic here: fixed blooms, fixed probe).
    assert(store.bloomCandidateFiles("txn", "txid", "NOPE" * 13).isEmpty)
    assert(Api.transactions(store,
      Api.TransactionFilter(txid = Some("NOPE" * 13)))._1.count() == 0)

    // Compaction rewrites files and rebuilds their blooms atomically with
    // the manifest swap: coverage and lookups survive.
    assert(store.compactSealed("txn", activeRbkt = Long.MaxValue, maxFilesPerBucket = 1) >= 1)
    store.vacuum("txn")
    val filesAfter = store.manifest("txn")
    val bloomsAfter = store.fileBloomRaw("txn", "txid")
    assert(filesAfter.forall(bloomsAfter.contains), "rebuilt blooms cover the new file set")
    assert(bloomsAfter.keySet.subsetOf(filesAfter.toSet), "stale entries dropped")
    assert(lookup(skip = false).map(_._1) == Seq(round))
  }

  test("addr blooms prune the participation read for transactions-by-address") {
    val store = new TableStore(spark, tmpDir("graft-addrix"), nBuckets = 4)
    import spark.implicits._
    BlockIngest.initGenesis(store, Seq((A, 1000000L, "{}")), network = "net")
    // Disjoint address pairs per batch so each file holds distinct addrs.
    for (batch <- 0 until 3) {
      val (s1, s2) = (addr2(batch * 2), addr2(batch * 2 + 1))
      val blocks = (0 until 2).map { i =>
        val r = batch * 2 + i
        block(r.toLong, Vector(pay(s1, s2, 100 + r)))
      }
      BlockIngest.applyBlocks(store, spark.createDataset(blocks.map(BlockCodec.blockToJson)))
    }
    val files = store.manifest("txn_participation")
    assert(files.size >= 3)
    assert(files.forall(store.fileBloomRaw("txn_participation", "addr").contains))

    // A batch-0-only address prunes to batch 0's participation files.
    val cands = store.bloomCandidateFiles("txn_participation", "addr", addr2(0))
    assert(cands.nonEmpty && cands.size < files.size,
      s"expected pruning: ${cands.size} of ${files.size}")
    // Api path returns the right rows either way.
    def byAddr(skip: Boolean) =
      Api.transactions(store, Api.TransactionFilter(
        address = Some(addr2(0)), skipOptimization = skip))
        ._1.select("round").collect().map(_.getLong(0)).sorted.toSeq
    assert(byAddr(skip = false) == Seq(0L, 1L))
    assert(byAddr(skip = false) == byAddr(skip = true))
  }

  private def addr2(i: Int): String =
    graft.codec.Codecs.addressEncode(Array.tabulate(32)(j => (i * 37 + j).toByte))

  test("asset blooms prune txn reads for the long tail of asset ids") {
    val store = new TableStore(spark, tmpDir("graft-assetix"), nBuckets = 4)
    import spark.implicits._
    BlockIngest.initGenesis(store, Seq((A, 1000000L, "{}")), network = "net")
    // One distinct asset per batch: batch 0 → 1000, 1 → 1001, 2 → 1002.
    for (batch <- 0 until 3) {
      val blocks = (0 until 2).map { i =>
        val r = batch * 2 + i
        block(r.toLong, Vector(axfer(A, B, asset = 1000L + batch, amt = BigInt(1 + r))))
      }
      BlockIngest.applyBlocks(store, spark.createDataset(blocks.map(BlockCodec.blockToJson)))
    }
    val files = store.manifest("txn")
    val cands = store.bloomCandidateFiles("txn", "asset", "1000")
    assert(cands.nonEmpty && cands.size < files.size,
      s"expected pruning: ${cands.size} of ${files.size}")
    def byAsset(skip: Boolean) =
      Api.transactions(store, Api.TransactionFilter(assetId = Some(1000L), skipOptimization = skip))
        ._1.select("round").collect().map(_.getLong(0)).sorted.toSeq
    assert(byAsset(skip = false) == Seq(0L, 1L))
    assert(byAsset(skip = false) == byAsset(skip = true))
  }

  test("per-file round stats prune within a range bucket to the covering batch") {
    val store = new TableStore(spark, tmpDir("graft-rstats"), nBuckets = 4)
    import spark.implicits._
    BlockIngest.initGenesis(store, Seq((A, 1000000L, "{}")), network = "net")
    // All rounds land in rbkt=0 (roundsPerPartition default 10000): only
    // the per-file stats can tell the batches apart.
    for (batch <- 0 until 3) {
      val blocks = (0 until 2).map { i =>
        val r = batch * 2 + i
        block(r.toLong, Vector(pay(A, B, 100 + r)))
      }
      BlockIngest.applyBlocks(store, spark.createDataset(blocks.map(BlockCodec.blockToJson)))
    }
    val all = store.manifest("txn")
    assert(store.fileRoundStatsRaw("txn").keySet == all.toSet, "stats cover every file")
    // Round 1 lives in batch 0 only.
    val hit = store.rangeFiles("txn", Some(1L), Some(1L))
    assert(hit.nonEmpty && hit.size < all.size, s"expected stats pruning: ${hit.size} of ${all.size}")
    assert(store.readRounds("txn", Some(1L), Some(1L))
      .filter(col("round") === 1).count() == 1)
    // Stats survive compaction (rebuilt for the rewritten file set).
    assert(store.compactSealed("txn", activeRbkt = Long.MaxValue, maxFilesPerBucket = 1) >= 1)
    store.vacuum("txn")
    val after = store.manifest("txn")
    assert(store.fileRoundStatsRaw("txn").keySet == after.toSet)
    assert(store.readRounds("txn", Some(1L), Some(1L))
      .filter(col("round") === 1).count() == 1)
  }

  test("SQL surface: the optimizer rule prunes WHERE txid = literal to candidate files") {
    val store = new TableStore(spark, tmpDir("graft-txidrule"), nBuckets = 4)
    import spark.implicits._
    BlockIngest.initGenesis(store, Seq((A, 1000000L, "{}")), network = "net")
    for (batch <- 0 until 3) {
      val blocks = (0 until 2).map { i =>
        val r = batch * 2 + i
        block(r.toLong, Vector(pay(A, B, 100 + r)))
      }
      BlockIngest.applyBlocks(store, spark.createDataset(blocks.map(BlockCodec.blockToJson)))
    }
    store.createViews() // registers views AND installs the rule

    val sample = store.read("txn").filter(col("txid").isNotNull)
      .select("txid", "round").collect().head
    val (txid, round) = (sample.getString(0), sample.getLong(1))

    val q = spark.sql(s"SELECT round, intra FROM txn WHERE txid = '$txid' AND round >= 0")
    // correctness: same row the unpruned scan finds
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(round))
    // the optimized plan's relation lists only bloom-candidate files
    val scanned = q.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation.asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.inputFiles.length
    }
    assert(scanned.nonEmpty && scanned.min < store.manifest("txn").size,
      s"expected pruned relation, scanned=$scanned of ${store.manifest("txn").size}")

    // a non-txid query over the same view is untouched
    val full = spark.sql("SELECT count(*) FROM txn WHERE round >= 0")
    val fullFiles = full.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation.asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.inputFiles.length
    }
    assert(fullFiles.min == store.manifest("txn").size)

    // STALE VIEW semantics: commit more data AFTER the view was
    // registered. The rewrite must stay within the view's snapshot —
    // an old txid still resolves, a post-snapshot txid returns nothing
    // (exactly what a round-predicate query over the same view sees).
    val preCount = spark.sql("SELECT count(*) FROM txn").head().getLong(0)
    BlockIngest.applyBlocks(store, spark.createDataset(Seq(
      block(6L, Vector(pay(A, B, 999)))).map(BlockCodec.blockToJson)))
    val newTxid = store.read("txn")
      .filter(col("round") === 6 && col("txid").isNotNull)
      .select("txid").head().getString(0)
    assert(spark.sql(s"SELECT count(*) FROM txn WHERE txid = '$txid'").head().getLong(0) == 1,
      "pre-snapshot txid still resolves through the stale view")
    assert(spark.sql(s"SELECT count(*) FROM txn WHERE txid = '$newTxid'").head().getLong(0) == 0,
      "post-snapshot txid is invisible to the stale view, like any other predicate")
    assert(spark.sql("SELECT count(*) FROM txn").head().getLong(0) == preCount)
  }

  test("rule bails out for a direct directory read that discovers rbkt") {
    val store = new TableStore(spark, tmpDir("graft-txidrule-dir"), nBuckets = 4)
    import spark.implicits._
    BlockIngest.initGenesis(store, Seq((A, 1000000L, "{}")), network = "net")
    for (batch <- 0 until 2)
      BlockIngest.applyBlocks(store, spark.createDataset(Seq(
        block(batch.toLong, Vector(pay(A, B, 100 + batch)))).map(BlockCodec.blockToJson)))
    store.createViews() // installs the rule for this root

    // A raw directory read discovers `rbkt` as a partition column — one
    // MORE output attribute than the store's schema-pinned relation. The
    // rule must leave it alone: a positional-zip rewrite would silently
    // drop rbkt and this query would fail at planning.
    val txid = store.read("txn").filter(col("txid").isNotNull)
      .select("txid").head().getString(0)
    val direct = spark.read.parquet(s"${store.root}/txn")
      .filter(col("txid") === txid).select("round", "rbkt")
    assert(direct.collect().map(_.getLong(0)).toSeq.nonEmpty)
    val files = direct.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation.asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.inputFiles.length
    }
    assert(files.min == store.manifest("txn").size, "direct read must stay unrewritten")
  }
}
