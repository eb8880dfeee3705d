package graft.query

import graft.{Fixtures, SparkSpec}
import graft.codec.{BlockCodec, Codecs}
import graft.ingest.{BlockIngest, TableStore}
import graft.model._
import org.apache.spark.sql.functions._

/** Read-side surface (§2.D): the canonical "transactions by address" flow
  * (§3.3) plus one test per query family. */
class QueryApiSpec extends SparkSpec {
  import Fixtures._

  private lazy val store: TableStore = {
    val s = new TableStore(spark, tmpDir("graft-query"), nBuckets = 4)
    import spark.implicits._
    BlockIngest.initGenesis(s, Seq((A, 1000000L, "{}")), network = "graft-test")
    val blocks = Seq(
      block(0, Vector(pay(A, B, 100, note = "alpha-note")),
        delta = LedgerDelta(accounts = Vector(acctUpsert(A, 999900), acctUpsert(B, 100)))),
      block(1, Vector(
        acfg(C, configAsset = 0, createdId = 1001),
        axfer(C, A, asset = 1001, amt = BigInt(50))),
        delta = LedgerDelta(
          accounts = Vector(acctUpsert(C, 5000)),
          assetResources = Vector(
            AssetResourceRecord(addr = C, aidx = 1001,
              paramsJson = Some("""{"an":"Graft Coin","un":"GRF"}"""),
              holding = Some(AssetHolding(BigInt(950), frozen = false))),
            AssetResourceRecord(addr = A, aidx = 1001,
              holding = Some(AssetHolding(BigInt(50), frozen = false)))))),
      block(2, Vector(applWithInners(B, 500), pay(A, B, 55)),
        delta = LedgerDelta(
          appResources = Vector(AppResourceRecord(addr = B, aidx = 500,
            paramsJson = Some("""{"gs":1}"""), localStateJson = Some("""{"n":1}"""))),
          kvMods = Vector(
            KvMod(Codecs.boxKeyMake(500, "a-box".getBytes), Some("v1".getBytes)),
            KvMod(Codecs.boxKeyMake(500, "b-box".getBytes), Some("v2".getBytes))))),
      block(3, Vector(pay(B, A, 42))))
    BlockIngest.applyBlocks(s, spark.createDataset(blocks.map(BlockCodec.blockToJson)))
    s
  }

  test("transactions by address, newest-first, asOf round") {
    val (df, asOf) = Api.transactions(store, Api.TransactionFilter(address = Some(A)))
    assert(asOf == 3)
    val rows = df.collect()
    // A participates: round 0 pay (sender), round 1 axfer (receiver),
    // round 2: appl root row (recursive participation), the inner pay D→A
    // row itself (direct participation), and the pay — then round 3 pay
    assert(rows.map(_.getAs[Long]("round")).toSeq == Seq(3, 2, 2, 2, 1, 0))
  }

  test("address role refinement: only rows where A is the sender") {
    val (df, _) = Api.transactions(store, Api.TransactionFilter(
      address = Some(A), addressRole = Api.AddressRole.Sender))
    assert(df.collect().map(_.getAs[Long]("round")).toSeq == Seq(2, 0))
  }

  test("typeEnum + limit + keyset pagination round-trip") {
    val (page1, _) = Api.transactions(store, Api.TransactionFilter(
      typeEnum = Some(1), limit = Some(2))) // pay rows incl. inners
    val rows1 = page1.collect()
    assert(rows1.length == 2)
    val last = rows1.last
    val tok = Api.nextToken(last.getAs[Long]("round"), last.getAs[Int]("intra"),
      rootIntra = None, innerCount = 0, ascending = false)
    val (page2, _) = Api.transactions(store, Api.TransactionFilter(
      typeEnum = Some(1), limit = Some(10), nextToken = Some(tok)))
    val rows2 = page2.collect()
    // no overlap, strictly older
    val k1 = rows1.map(r => (r.getAs[Long]("round"), r.getAs[Int]("intra"))).toSet
    val k2 = rows2.map(r => (r.getAs[Long]("round"), r.getAs[Int]("intra"))).toSet
    assert(k1.intersect(k2).isEmpty)
    assert(k2.forall(k => k1.forall(p => k._1 < p._1 || (k._1 == p._1 && k._2 < p._2))))
  }

  test("txid point lookup and notePrefix") {
    val someTxid = store.read("txn").filter(col("txid").isNotNull)
      .select("txid").head().getString(0)
    val (byId, _) = Api.transactions(store, Api.TransactionFilter(txid = Some(someTxid)))
    assert(byId.count() == 1)

    val (byNote, _) = Api.transactions(store, Api.TransactionFilter(
      notePrefix = Some("alpha".getBytes)))
    assert(byNote.count() == 1)
    assert(byNote.head().getAs[Long]("round") == 0)
  }

  test("time range resolves to rounds via block_header") {
    // rounds 0..3 at ts 1700000000 + 4r
    val (df, _) = Api.transactions(store, Api.TransactionFilter(
      afterTime = Some(java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1700000001L))),
      beforeTime = Some(java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1700000009L)))))
    assert(df.collect().map(_.getAs[Long]("round")).forall(r => r == 1 || r == 2))
  }

  test("round bounds compose conjunctively (contradictions are empty, not widened)") {
    val (hit, _) = Api.transactions(store, Api.TransactionFilter(
      round = Some(1), minRound = Some(0), maxRound = Some(3)))
    assert(hit.collect().map(_.getAs[Long]("round")).forall(_ == 1) && !hit.isEmpty)
    val (miss, _) = Api.transactions(store, Api.TransactionFilter(
      round = Some(1), minRound = Some(2)))
    assert(miss.isEmpty)
    val (miss2, _) = Api.transactions(store, Api.TransactionFilter(
      minRound = Some(3), maxRound = Some(1)))
    assert(miss2.isEmpty)
  }

  test("skipInnerTransactions drops inner rows; convertToRoot maps them back") {
    val (all, _) = Api.transactions(store, Api.TransactionFilter(round = Some(2)))
    assert(all.count() == 5) // appl root + 3 inners + pay
    val (skip, _) = Api.transactions(store, Api.TransactionFilter(
      round = Some(2), skipInnerTransactions = true))
    assert(skip.count() == 2)

    val innerOnly = all.filter(col("txid").isNull)
    val converted = Api.convertToRoot(store, innerOnly)
    val roots = converted.collect()
    assert(roots.length == 1) // all 3 inners share one root
    assert(roots.head.getAs[Int]("intra") == 0 && roots.head.getAs[Long]("round") == 2)

    // filter-level conversion (the reference's default): inner matches for
    // A collapse into their root row, deduped
    val (conv, _) = Api.transactions(store, Api.TransactionFilter(
      address = Some(A), round = Some(2), convertInnerToRoot = true))
    val keys = conv.collect().map(r => (r.getAs[Long]("round"), r.getAs[Int]("intra"))).toSet
    assert(keys == Set((2L, 0), (2L, 4))) // appl root + the pay row
  }

  test("accounts: filters, authaddr, resource expansion, hasAsset") {
    val (all, asOf) = Api.accounts(store, Api.AccountQueryOptions())
    assert(asOf == 3 && all.count() == 3)

    val (rich, _) = Api.accounts(store, Api.AccountQueryOptions(algosGreaterThan = Some(100000)))
    assert(rich.collect().map(_.getAs[String]("addr")).toSet == Set(A))

    val (holders, _) = Api.accounts(store, Api.AccountQueryOptions(hasAssetId = Some(1001)))
    assert(holders.collect().map(_.getAs[String]("addr")).toSet == Set(A, C))

    val (bigHolders, _) = Api.accounts(store, Api.AccountQueryOptions(
      hasAssetId = Some(1001), assetGT = Some(BigInt(100))))
    assert(bigHolders.collect().map(_.getAs[String]("addr")).toSet == Set(C))

    val (expanded, _) = Api.accounts(store, Api.AccountQueryOptions(
      equalToAddress = Some(C), includeAssetHoldings = true, includeAssetParams = true))
    val row = expanded.head()
    assert(row.getAs[scala.collection.Seq[Any]]("asset_holdings").length == 1)
    assert(row.getAs[scala.collection.Seq[Any]]("created_assets").length == 1)
  }

  test("accounts: MaxResources guard throws the typed error") {
    intercept[Api.MaxAPIResourcesPerAccountError] {
      Api.accounts(store, Api.AccountQueryOptions(maxResources = Some(0)))
    }
  }

  test("assets: fuzzy name/unit search and keyset paging") {
    val (byName, _) = Api.assets(store, Api.AssetsQuery(name = Some("graft")))
    assert(byName.count() == 1)
    val (byQuery, _) = Api.assets(store, Api.AssetsQuery(query = Some("grf")))
    assert(byQuery.count() == 1)
    val (miss, _) = Api.assets(store, Api.AssetsQuery(name = Some("nope")))
    assert(miss.count() == 0)
    val (paged, _) = Api.assets(store, Api.AssetsQuery(assetIdGreaterThan = Some(1001)))
    assert(paged.count() == 0)
  }

  test("asset balances with decimal comparisons") {
    val (bal, _) = Api.assetBalances(store, Api.AssetBalanceQuery(
      assetId = Some(1001), amountGT = Some(BigInt(100))))
    val rows = bal.collect()
    assert(rows.length == 1 && rows.head.getAs[String]("addr") == C)
  }

  test("applications and local state") {
    val (apps, _) = Api.applications(store, Api.ApplicationQuery(applicationId = Some(500)))
    assert(apps.count() == 1)
    val (ls, _) = Api.appLocalState(store, Api.ApplicationQuery(address = Some(B)))
    assert(ls.count() == 1)
  }

  test("boxes: ASC order, prevFinalBox paging, omitValues projection") {
    val (boxes, _) = Api.applicationBoxes(store, Api.ApplicationBoxQuery(applicationId = 500))
    val names = boxes.collect().map(r => new String(r.getAs[Array[Byte]]("name")))
    assert(names.toSeq == Seq("a-box", "b-box"))

    val (page2, _) = Api.applicationBoxes(store, Api.ApplicationBoxQuery(
      applicationId = 500, prevFinalBox = Some("a-box".getBytes)))
    assert(page2.collect().map(r => new String(r.getAs[Array[Byte]]("name"))).toSeq == Seq("b-box"))

    val (noVals, _) = Api.applicationBoxes(store, Api.ApplicationBoxQuery(
      applicationId = 500, omitValues = true))
    assert(!noVals.columns.contains("value"))
  }

  test("body predicates: algosGT/LT, effectiveAmount, sigType, rekeyTo") {
    // pay rows incl. INNER pays (they are txn rows too): amounts
    // 100 (r0), 55 + inner 111 + inner 222 (r2), 42 (r3)
    val (algosGt, _) = Api.transactions(store, Api.TransactionFilter(algosGT = Some(50)))
    assert(algosGt.collect().map(_.getAs[Long]("round")).sorted.toSeq == Seq(0, 2, 2, 2))
    val (algosLt, _) = Api.transactions(store, Api.TransactionFilter(algosLT = Some(50)))
    assert(algosLt.collect().map(_.getAs[Long]("round")).toSeq == Seq(3))

    val (eff, _) = Api.transactions(store, Api.TransactionFilter(effectiveAmountGT = Some(54)))
    assert(eff.count() == 4) // same rows as algosGT here (no close amounts)

    val (sig, _) = Api.transactions(store, Api.TransactionFilter(sigType = Some("sig")))
    assert(sig.count() > 0)
    val (msig, _) = Api.transactions(store, Api.TransactionFilter(sigType = Some("msig")))
    assert(msig.count() == 0)

    // Classifier precedence incl. delegated lsig (sig_type.go:46-63):
    // lsig carrying a nested sig/msig is sig/msig, NOT lsig.
    import spark.implicits._
    val bodies = Seq(
      ("plain_sig", """{"sig":"s1","txn":{}}"""),
      ("plain_msig", """{"msig":{"thr":1},"txn":{}}"""),
      ("plain_lsig", """{"lsig":{"l":"prog"},"txn":{}}"""),
      ("delegated_sig", """{"lsig":{"l":"prog","sig":"s2"},"txn":{}}"""),
      ("delegated_msig", """{"lsig":{"l":"prog","msig":{"thr":1}},"txn":{}}"""),
      ("sig_over_lsig", """{"sig":"s3","lsig":{"l":"prog"},"txn":{}}"""))
      .toDF("tag", "txn")
    def tags(st: String) =
      bodies.filter(Api.sigTypeCond(st)).collect().map(_.getString(0)).toSet
    assert(tags("sig") == Set("plain_sig", "delegated_sig", "sig_over_lsig"))
    assert(tags("msig") == Set("plain_msig", "delegated_msig"))
    assert(tags("lsig") == Set("plain_lsig"))

    val (rekeyed, _) = Api.transactions(store, Api.TransactionFilter(rekeyTo = Some(true)))
    assert(rekeyed.count() == 0)
    val (notRekeyed, _) = Api.transactions(store, Api.TransactionFilter(
      rekeyTo = Some(false), round = Some(3)))
    assert(notRekeyed.count() == 1)

    // Parse-once contract: five stacked body predicates plan as ONE
    // from_json over the txn document, not one parse per predicate (and
    // no get_json_object at all on this path). Checked on the distributed
    // plan: over driver-local rows the filter folds away at planning time.
    val opt = withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      val (many, _) = Api.transactions(store, Api.TransactionFilter(
        sigType = Some("sig"), algosGT = Some(1), algosLT = Some(1000),
        effectiveAmountGT = Some(1), rekeyTo = Some(false)))
      many.queryExecution.optimizedPlan.toString
    }
    assert("from_json".r.findAllIn(opt).size == 1, s"expected one parse:\n$opt")
    assert(!opt.contains("get_json_object"), s"stacked raw parses remain:\n$opt")
  }

  test("engine_ingest_e2e driver query returns newest-first rows") {
    val df = graft.queries.EngineQueries.defs.head.fn(spark, "unused")
    val rows = df.collect()
    assert(rows.nonEmpty)
    val rounds = rows.map(_.getAs[Long]("round")).toSeq
    assert(rounds == rounds.sorted.reverse)
  }

  test("getBlock: header-only, full, and MaxTransactionsLimit guard") {
    val hdrOnly = Api.getBlock(store, 2, Api.GetBlockOptions(headerOnly = true))
    assert(hdrOnly.header.getAs[Long]("round") == 2 && hdrOnly.transactions.isEmpty)

    val full = Api.getBlock(store, 2)
    assert(full.transactions.get.count() == 5)
    assert(full.transactions.get.collect().map(_.getAs[Int]("intra")).toSeq == Seq(0, 1, 2, 3, 4))

    val ok = Api.getBlock(store, 2, Api.GetBlockOptions(maxTransactionsLimit = Some(10)))
    assert(ok.transactions.isDefined)
    intercept[Api.MaxTransactionsError] {
      Api.getBlock(store, 2, Api.GetBlockOptions(maxTransactionsLimit = Some(3)))
    }
    intercept[IllegalArgumentException](Api.getBlock(store, 99))
  }

  test("createViews: the maintained tables answer spark.sql with graft UDFs") {
    store.createViews()
    val row = spark.sql(
      """SELECT t.round, t.intra, graft_typeenum_name(CAST(t.typeenum AS INT)) AS tname
        |FROM txn_participation p
        |JOIN txn t ON p.round = t.round AND p.intra = t.intra
        |ORDER BY t.round DESC, t.intra DESC LIMIT 1""".stripMargin).head()
    assert(row.getAs[Long]("round") == 3 && row.getAs[String]("tname") == "pay")
    assert(spark.sql("SELECT count(*) FROM account").head().getLong(0) == 3)
  }

  test("skipOptimization: raw-predicate path returns exactly the normalized path's rows") {
    // idb.go:181-182 — the flag exists so tests can pin that filter
    // normalization (round-bounds intersection + manifest prune + time
    // range collapse) never changes results.
    val filters = Seq(
      Api.TransactionFilter(minRound = Some(1), maxRound = Some(2)),
      Api.TransactionFilter(round = Some(2), minRound = Some(1), maxRound = Some(99)),
      Api.TransactionFilter(round = Some(2), maxRound = Some(1)), // contradictory ⇒ empty
      Api.TransactionFilter(
        afterTime = Some(new java.sql.Timestamp(1700000001L * 1000)),
        beforeTime = Some(new java.sql.Timestamp(1700000011L * 1000))),
      Api.TransactionFilter(address = Some(A), minRound = Some(1),
        afterTime = Some(new java.sql.Timestamp(1700000000L * 1000))),
      Api.TransactionFilter(typeEnum = Some(1), maxRound = Some(3)))
    for (f <- filters) {
      def rows(skip: Boolean) =
        Api.transactions(store, f.copy(skipOptimization = skip))._1
          .select("round", "intra").collect()
          .map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
      assert(rows(skip = false) == rows(skip = true), s"filter: $f")
    }
  }

  test("health reports the reference shape: round, migration, availability") {
    val h = Api.health(store)
    assert(h.maxRoundAccounted.contains(3L))
    assert(h.round == 3L)
    assert(h.network.contains("graft-test"))
    // Genesis seeded migration=MaxLong (cockroach.go:226-232) ⇒ nothing
    // pending, DB serving.
    assert(h.data("migration-required") == "false")
    assert(!h.data.contains("read-only-mode") && !h.data.contains("migration-status"))
    assert(!h.isMigrating && h.dbAvailable && h.error.isEmpty)
    assert(store.metastate(TableStore.MetaMigration).contains(Long.MaxValue.toString))

    val ro = Api.health(store, readOnly = true)
    assert(ro.data("read-only-mode") == "true")

    // A store whose migration watermark predates the defined migrations
    // reports migration-required (reference: nextMigration < len(migrations)).
    store.commit(sets = Seq(TableStore.MetaMigration -> """{"next":-1}"""))
    try {
      val stale = Api.health(store)
      assert(stale.data("migration-required") == "true")
      assert(stale.data("migration-status") == "migration required")
    } finally store.commit(sets = Seq(TableStore.MetaMigration ->
      s"""{"next":${Long.MaxValue}}"""))
  }

  test("nextRoundToLoad: max committed txn round + 1 from manifest stats, 0 when empty") {
    // the 4-round fixture: txn rounds 0..3 committed → next to load is 4,
    // agreeing with NextRoundToAccount on a caught-up store
    assert(Api.nextRoundToLoad(store) == 4L)
    assert(store.nextRoundToLoad == store.nextRound)
    // an initialized-but-unloaded store reports 0 (dummy.go:41-42 shape)
    val empty = new TableStore(spark, tmpDir("graft-nrtl"), nBuckets = 4)
    BlockIngest.initGenesis(empty, Seq((A, 10L, "{}")), "net")
    assert(Api.nextRoundToLoad(empty) == 0L)
  }

  test("deleteTransactions prunes old round partitions and records watermark") {
    // fresh store so other tests are unaffected
    val s2 = new TableStore(spark, tmpDir("graft-prune"), nBuckets = 4)
    import spark.implicits._
    BlockIngest.initGenesis(s2, Seq((A, 10L, "{}")), "net")
    val bs = (0L to 3L).map(r => block(r, Vector(pay(A, B, r + 1))))
    BlockIngest.applyBlocks(s2, spark.createDataset(bs.map(BlockCodec.blockToJson)))
    assert(s2.read("txn").count() == 4)
    val before = s2.metaVersion
    Api.deleteTransactions(s2, keep = 2)
    assert(s2.metaVersion == before + 1, "the prune and its watermark are one record")
    val rounds = s2.read("txn").select("round").collect().map(_.getLong(0)).sorted
    assert(rounds.toSeq == Seq(2, 3))
    assert(s2.metastate("pruned").contains("2"))
  }
}
