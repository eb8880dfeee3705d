package graft.ingest

import graft.{Fixtures, SparkSpec}
import graft.codec.{BlockCodec, Codecs}
import graft.model._
import org.apache.spark.sql.functions._

/** End-to-end batch ingest (SURVEY.md §7.2's minimum vertical slice):
  * genesis + blocks through applyBlocks, assert the maintained tables. */
class IngestSpec extends SparkSpec {
  import Fixtures._

  private def blocksDs(blocks: Block*) = {
    import spark.implicits._
    spark.createDataset(blocks.map(BlockCodec.blockToJson))
  }

  private def newStore() = new TableStore(spark, tmpDir("graft-store"), nBuckets = 4)

  test("genesis + three blocks end-to-end") {
    val store = newStore()
    BlockIngest.initGenesis(store,
      Seq((A, 1000000L, "{}"), (B, 2000000L, "{}")), network = "graft-test")
    assert(store.nextRound == 0)

    val b0 = block(0, Vector(pay(A, B, 100, note = "first")),
      delta = LedgerDelta(accounts = Vector(acctUpsert(A, 999900), acctUpsert(B, 2000100))))
    val b1 = block(1, Vector(
      acfg(C, configAsset = 0, createdId = 1001),
      axfer(C, A, asset = 1001, amt = BigInt(50))),
      delta = LedgerDelta(
        accounts = Vector(acctUpsert(C, 5000)),
        assetResources = Vector(
          AssetResourceRecord(addr = C, aidx = 1001,
            paramsJson = Some("""{"an":"Graft Coin","un":"GRF"}"""),
            holding = Some(AssetHolding(BigInt(950), frozen = false))),
          AssetResourceRecord(addr = A, aidx = 1001,
            holding = Some(AssetHolding(BigInt(50), frozen = false))))))
    val b2 = block(2, Vector(applWithInners(B, 500)),
      delta = LedgerDelta(
        appResources = Vector(AppResourceRecord(addr = B, aidx = 500,
          paramsJson = Some("""{"approv":"AA=="}"""),
          localStateJson = Some("""{"n":1}"""))),
        kvMods = Vector(KvMod(Codecs.boxKeyMake(500, "box1".getBytes), Some("val1".getBytes)))))

    BlockIngest.applyBlocks(store, blocksDs(b0, b1, b2))
    assert(store.nextRound == 3)

    // txn table: 1 + 2 + 4 rows (appl root + 3 inners)
    val txn = store.read("txn")
    assert(txn.count() == 7)
    assert(txn.filter(col("txid").isNull).count() == 3)
    assert(txn.filter(col("round") === 2).count() == 4)

    // participation newest-first for B (DESC index pattern)
    val part = store.read("txn_participation").filter(col("addr") === B)
      .orderBy(desc("round"), desc("intra")).collect()
    assert(part.nonEmpty && part.head.getAs[Long]("round") == 2)

    // account state: balances from last deltas, genesis created_at preserved
    val acct = store.readState("account").collect()
      .map(r => r.getAs[String]("addr") -> r).toMap
    assert(acct(A).getAs[Long]("microalgos") == 999900)
    assert(acct(A).getAs[Long]("created_at") == 0) // genesis insert
    assert(acct(C).getAs[Long]("created_at") == 1)

    // asset + holdings
    val asset = store.readState("asset").collect()
    assert(asset.length == 1 && asset.head.getAs[Long]("id") == 1001)
    val holdings = store.readState("account_asset").orderBy("addr").collect()
    assert(holdings.length == 2)

    // app + local state + box
    assert(store.readState("app").count() == 1)
    assert(store.readState("account_app").count() == 1)
    val box = store.readState("app_box").collect()
    assert(box.length == 1 && new String(box.head.getAs[Array[Byte]]("name")) == "box1")

    // block headers with UTC realtime
    val hdr = store.read("block_header").orderBy("round").collect()
    assert(hdr.length == 3)
    assert(hdr.head.getAs[java.sql.Timestamp]("realtime").toInstant.getEpochSecond == 1700000000L)

    // metastate: special accounts recorded
    assert(store.metastate(TableStore.MetaSpecialAccounts).contains(FeeSink))
  }

  test("diffAsOf: append phases diff as pure adds; self-diff empty; compaction invisible to diff") {
    val store = newStore()
    BlockIngest.initGenesis(store,
      Seq((A, 1000000L, "{}"), (B, 2000000L, "{}")), network = "graft-test")
    BlockIngest.applyBlocks(store, blocksDs(
      block(0, Vector(pay(A, B, 100)), delta = LedgerDelta()),
      block(1, Vector(pay(B, A, 50)), delta = LedgerDelta())))
    val v1 = store.metaVersion
    BlockIngest.applyBlocks(store, blocksDs(
      block(2, Vector(pay(A, B, 10), pay(B, A, 20)), delta = LedgerDelta())))
    val v2 = store.metaVersion

    def ops(df: org.apache.spark.sql.DataFrame) = df.groupBy("_op").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ops(store.diffAsOf("txn", v1, v2)) == Map("added" -> 2L),
      "phase 2 appended exactly round 2's txns")
    assert(store.diffAsOf("txn", v1, v1).count() == 0, "self-diff is empty")

    // compaction WITHOUT vacuum is a content-preserving metadata swap:
    // the old version's files stay live, and the diff across it is empty
    store.compactSealed("txn", activeRbkt = Long.MaxValue, maxFilesPerBucket = 1)
    val v3 = store.metaVersion
    assert(v3 > v2, "compaction commits a new metadata version")
    assert(store.diffAsOf("txn", v2, v3).count() == 0,
      "compaction must be invisible to a row-level diff")
    // (prune/vacuum delete unreferenced files immediately, so diffs
    // across a vacuum boundary are out of contract by design)
  }

  test("re-applying an already-accounted round is a no-op (idempotent replay)") {
    val store = newStore()
    val b0 = block(0, Vector(pay(A, B, 100)),
      delta = LedgerDelta(accounts = Vector(acctUpsert(A, 999))))
    BlockIngest.applyBlocks(store, blocksDs(b0))
    val txnCount = store.read("txn").count()
    val acctBefore = store.readState("account").collect().toSeq.map(_.toString).sorted

    BlockIngest.applyBlocks(store, blocksDs(b0)) // replay
    assert(store.nextRound == 1)
    assert(store.read("txn").count() == txnCount)
    assert(store.readState("account").collect().toSeq.map(_.toString).sorted == acctBefore)
  }

  test("ordering guard rejects gaps and future rounds (cockroach.go:142-146)") {
    assert(BlockIngest.orderingGuard(Seq(5, 3, 4), 3) == Seq(3, 4, 5))
    assert(BlockIngest.orderingGuard(Seq(1, 2), 3) == Seq.empty) // already accounted
    assert(BlockIngest.orderingGuard(Seq(2, 3), 3) == Seq(3))
    val e = intercept[IllegalArgumentException](BlockIngest.orderingGuard(Seq(5), 3))
    assert(e.getMessage.contains("next round to account is 3"))
    intercept[IllegalArgumentException](BlockIngest.orderingGuard(Seq(3, 5), 3))
  }

  test("ensureInitialImport: seed once, skip on same network, reject mismatch") {
    val store = newStore()
    BlockIngest.ensureInitialImport(store, Seq((A, 100L, "{}")), "net-1")
    assert(store.readState("account").count() == 1)
    // same network: no reseed (state untouched)
    BlockIngest.ensureInitialImport(store, Seq((A, 100L, "{}"), (B, 5L, "{}")), "net-1")
    assert(store.readState("account").count() == 1)
    // different network: the reference's genesis-hash guard
    val e = intercept[IllegalStateException](
      BlockIngest.ensureInitialImport(store, Seq((A, 100L, "{}")), "net-2"))
    assert(e.getMessage.contains("genesis hash not matching"))
  }

  test("partial-batch state: create and delete across separate applies") {
    val store = newStore()
    val b0 = block(0, Vector.empty,
      delta = LedgerDelta(accounts = Vector(acctUpsert(A, 100))))
    val b1 = block(1, Vector.empty,
      delta = LedgerDelta(accounts = Vector(acctDelete(A))))
    BlockIngest.applyBlocks(store, blocksDs(b0))
    BlockIngest.applyBlocks(store, blocksDs(b1))
    val r = store.readState("account").collect().head
    assert(r.getAs[Boolean]("deleted"))
    assert(r.getAs[Long]("created_at") == 0)
    assert(r.getAs[Long]("closed_at") == 1)
    assert(r.getAs[String]("account_data") == "null")

    // IncludeDeleted toggles tombstone visibility (idb.go:264-266)
    val (visible, _) = graft.query.Api.accounts(store, graft.query.Api.AccountQueryOptions())
    assert(visible.count() == 0)
    val (all2, _) = graft.query.Api.accounts(store,
      graft.query.Api.AccountQueryOptions(includeDeleted = true))
    assert(all2.count() == 1)
  }

  test("a batch that fails before its commit leaves all state untouched; its replay matches an uninterrupted run") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import scala.jdk.CollectionConverters._
    val first = blocksDs(
      block(0, Vector(pay(A, B, 100)),
        delta = LedgerDelta(
          accounts = Vector(acctUpsert(A, 999900), acctUpsert(B, 100), acctUpsert(C, 5000)),
          assetResources = Vector(AssetResourceRecord(addr = C, aidx = 1001,
            paramsJson = Some("""{"an":"G"}"""), holding = Some(AssetHolding(BigInt(950), frozen = false)))),
          appResources = Vector(AppResourceRecord(addr = B, aidx = 500,
            paramsJson = Some("""{"gs":1}"""), localStateJson = Some("""{"n":1}"""))),
          kvMods = Vector(KvMod(Codecs.boxKeyMake(500, "box".getBytes), Some("v1".getBytes))))),
      block(1, Vector(pay(B, A, 7)), delta = LedgerDelta(accounts = Vector(acctUpsert(D, 7)))))
    // touches all six state tables: updates, a close and a box delete
    val second = blocksDs(
      block(2, Vector(pay(A, C, 5)),
        delta = LedgerDelta(
          accounts = Vector(acctUpsert(A, 999895), acctDelete(D)),
          assetResources = Vector(
            AssetResourceRecord(addr = C, aidx = 1001, paramsJson = Some("""{"an":"H"}""")),
            AssetResourceRecord(addr = A, aidx = 1001, holding = Some(AssetHolding(BigInt(5), frozen = true)))),
          appResources = Vector(AppResourceRecord(addr = B, aidx = 500,
            paramsJson = Some("""{"gs":2}"""), localStateJson = Some("""{"n":2}"""))),
          kvMods = Vector(KvMod(Codecs.boxKeyMake(500, "box".getBytes), None)))))
    val stateNames = (TableStore.Schemas.keySet -- TableStore.AppendTables).toSeq.sorted
    def stateTables(s: TableStore) = stateNames
      .map(t => t -> s.queryState(t, None).collect().toSeq.map(_.toSeq.map {
        case b: Array[Byte] => b.toSeq
        case v => v
      }.mkString("|")).sorted)

    val store = newStore()
    BlockIngest.initGenesis(store, Seq((A, 1000000L, "{}")), network = "graft-test")
    BlockIngest.applyBlocks(store, first)
    val (tablesBefore, metaBefore) = (stateTables(store), store.metastate)
    assert(tablesBefore.forall(_._2.nonEmpty))
    // the uninterrupted run starts from a copy of the pre-batch store
    val twin = Paths.get(tmpDir("graft-store-twin"))
    val from = Paths.get(store.root)
    scala.util.Using.resource(Files.walk(from))(_.iterator().asScala.foreach { p =>
      val dest = twin.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dest) else Files.copy(p, dest)
    })
    // The txn stage throws (its table dir is a regular file) while the
    // six merges stage their buckets.
    val txn = Paths.get(store.root, "txn")
    val aside = Paths.get(store.root, "txn-aside")
    Files.move(txn, aside, StandardCopyOption.ATOMIC_MOVE)
    Files.writeString(txn, "not a directory")
    intercept[Exception](BlockIngest.applyBlocks(store, second))
    // the failure surfaced only after every merge had finished staging
    assert(stateNames.forall { t =>
      val s = Files.list(Paths.get(store.root, t))
      try s.iterator().asScala.forall(!_.getFileName.toString.startsWith("_staging_")) finally s.close()
    })
    assert(stateTables(store) == tablesBefore)
    assert(new TableStore(spark, store.root, nBuckets = 4).metastate == metaBefore)

    Files.delete(txn)
    Files.move(aside, txn, StandardCopyOption.ATOMIC_MOVE)
    BlockIngest.applyBlocks(store, second)
    val uninterrupted = new TableStore(spark, twin.toString, nBuckets = 4)
    BlockIngest.applyBlocks(uninterrupted, second)
    assert(store.nextRound == 3)
    assert(stateTables(store) == stateTables(uninterrupted))
    assert(stateTables(store) != tablesBefore)
  }
}
