package graft.query

import graft.{Fixtures, SparkSpec}
import graft.codec.{BlockCodec, Codecs}
import graft.ingest.{BlockIngest, TableStore}
import graft.model._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, LocalTableScanExec}
import org.apache.spark.sql.graftbridge.LocalScan

/** The read API's driver-local path: small pruned reads are decoded on
  * the driver and answer without a Spark job, with exactly the rows the
  * distributed plan returns; a threshold below the file set keeps the
  * distributed scan. */
class LocalReadSpec extends SparkSpec {
  import Fixtures._

  private val Threshold = "spark.sql.autoBroadcastJoinThreshold"

  private lazy val store: TableStore = {
    val s = new TableStore(spark, tmpDir("graft-localread"), nBuckets = 4)
    import spark.implicits._
    BlockIngest.initGenesis(s, Seq((A, 1000000L, "{}")), network = "graft-test")
    val first = Seq(
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
            KvMod(Codecs.boxKeyMake(500, "b-box".getBytes), Some("v2".getBytes))))))
    // A second batch, so the txn and participation manifests hold
    // several files and round stats decide which ones an address needs.
    val second = Seq(
      block(3, Vector(pay(B, A, 42), pay(C, D, 7)),
        delta = LedgerDelta(accounts = Vector(acctUpsert(D, 7)))),
      block(4, Vector(axfer(A, C, asset = 1001, amt = BigInt(5)), pay(D, C, 1))))
    Seq(first, second).foreach { blocks =>
      BlockIngest.applyBlocks(s, spark.createDataset(blocks.map(BlockCodec.blockToJson)))
    }
    s
  }

  /** Rows with list-valued columns sorted: `collect_list` order is not
    * part of the answer. */
  private def norm(rows: Array[Row]): Seq[Seq[Any]] = rows.toSeq.map(_.toSeq.map {
    case xs: scala.collection.Seq[_] => xs.map(String.valueOf).sorted
    case b: Array[Byte] => b.toSeq
    case v => v
  })

  private def bothWays(name: String)(query: => DataFrame): Unit = {
    val local = query
    val (dist, distSchema) = withConf(Threshold, "-1") {
      val d = query
      (d.collect(), d.schema)
    }
    assert(LocalScan.isLocal(local) || name.startsWith("join:"), s"$name: expected a driver-local read")
    assert(local.schema == distSchema, s"$name: schema")
    assert(norm(local.collect()) == norm(dist), s"$name: rows")
  }

  test("every Api shape returns the distributed path's rows with the local path on") {
    val tf = Api.TransactionFilter()
    val txid = store.read("txn").filter("txid is not null and round = 3").head().getAs[String]("txid")
    val token = Api.nextToken(2, 3, None, 0, ascending = false)
    val shapes: Seq[(String, () => DataFrame)] = Seq(
      "address" -> (() => Api.transactions(store, tf.copy(address = Some(A)))._1),
      "address+role" -> (() => Api.transactions(store,
        tf.copy(address = Some(A), addressRole = Api.AddressRole.Sender))._1),
      "address page" -> (() => Api.transactions(store,
        tf.copy(address = Some(A), limit = Some(2), nextToken = Some(token)))._1),
      "address absent" -> (() => Api.transactions(store, tf.copy(address = Some(addr(77))))._1),
      "address+txid" -> (() => Api.transactions(store, tf.copy(address = Some(A), txid = Some(txid)))._1),
      "txid" -> (() => Api.transactions(store, tf.copy(txid = Some(txid)))._1),
      "round range" -> (() => Api.transactions(store,
        tf.copy(minRound = Some(1), maxRound = Some(3), limit = Some(4)))._1),
      "asset" -> (() => Api.transactions(store, tf.copy(assetId = Some(1001), ascending = true))._1),
      "application" -> (() => Api.transactions(store, tf.copy(applicationId = Some(500)))._1),
      "typeEnum+notePrefix" -> (() => Api.transactions(store,
        tf.copy(typeEnum = Some(1), notePrefix = Some("alpha".getBytes)))._1),
      "skipInner" -> (() => Api.transactions(store, tf.copy(skipInnerTransactions = true))._1),
      "join:convertInnerToRoot" -> (() => Api.transactions(store,
        tf.copy(address = Some(D), convertInnerToRoot = true))._1),
      "join:account+resources" -> (() => Api.accounts(store, Api.AccountQueryOptions(
        equalToAddress = Some(A), includeAssetHoldings = true, includeAppLocalState = true,
        includeAssetParams = true, includeAppParams = true))._1),
      "accounts" -> (() => Api.accounts(store, Api.AccountQueryOptions(limit = Some(3)))._1),
      "join:accounts hasAsset" -> (() => Api.accounts(store,
        Api.AccountQueryOptions(hasAssetId = Some(1001)))._1),
      "asset by id" -> (() => Api.assets(store, Api.AssetsQuery(assetId = Some(1001)))._1),
      "asset by name" -> (() => Api.assets(store, Api.AssetsQuery(name = Some("graft")))._1),
      "balances" -> (() => Api.assetBalances(store, Api.AssetBalanceQuery(assetId = Some(1001)))._1),
      "balances by address" -> (() => Api.assetBalances(store,
        Api.AssetBalanceQuery(address = Some(C)))._1),
      "applications" -> (() => Api.applications(store, Api.ApplicationQuery(applicationId = Some(500)))._1),
      "local state" -> (() => Api.appLocalState(store, Api.ApplicationQuery(address = Some(B)))._1),
      "boxes" -> (() => Api.applicationBoxes(store, Api.ApplicationBoxQuery(500, limit = Some(1)))._1),
      "boxes no values" -> (() => Api.applicationBoxes(store,
        Api.ApplicationBoxQuery(500, omitValues = true))._1),
      "block" -> (() => Api.getBlock(store, 2).transactions.get))
    shapes.foreach { case (name, q) => bothWays(name)(q()) }
    assert(Api.getBlock(store, 4, Api.GetBlockOptions(headerOnly = true)).header ==
      withConf(Threshold, "-1")(Api.getBlock(store, 4, Api.GetBlockOptions(headerOnly = true)).header))
  }

  /** `body`'s result and the Spark jobs it started: a marker job run
    * after it is the last event the listener sees, so every earlier job
    * start has arrived. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val starts = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.put(Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val result = body
      spark.sparkContext.setJobDescription("local-read-marker")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      var seen = List.empty[String]
      while (!seen.contains("local-read-marker")) {
        val d = starts.poll(30, java.util.concurrent.TimeUnit.SECONDS)
        assert(d != null, "marker job never reached the listener")
        seen ::= d
      }
      (result, seen.size - 1)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("txid lookup, round-range page and getBlock run no Spark job") {
    val tf = Api.TransactionFilter()
    val txid = store.read("txn").filter("txid is not null and round = 2").head().getAs[String]("txid")
    val (byTxid, txidJobs) = jobsDuring(Api.transactions(store, tf.copy(txid = Some(txid)))._1.collect())
    assert(txidJobs == 0 && byTxid.length == 1)
    val (page, pageJobs) = jobsDuring(Api.transactions(store,
      tf.copy(minRound = Some(0), maxRound = Some(4), limit = Some(3)))._1.collect())
    assert(pageJobs == 0)
    assert(page.map(r => (r.getAs[Long]("round"), r.getAs[Int]("intra"))).toSeq ==
      Seq((4L, 1), (4L, 0), (3L, 1)))
    val (block, blockJobs) = jobsDuring(Api.getBlock(store, 2).transactions.get.collect())
    assert(blockJobs == 0)
    assert(block.map(_.getAs[Int]("intra")).toSeq == Seq(0, 1, 2, 3, 4))
    val plan = Api.getBlock(store, 2).transactions.get.queryExecution.executedPlan
    assert(plan.isInstanceOf[LocalTableScanExec], plan.treeString)
  }

  test("a threshold below the file set's size keeps the distributed scan") {
    val tf = Api.TransactionFilter(minRound = Some(0), maxRound = Some(4), limit = Some(3))
    withConf(Threshold, "1") {
      val df = Api.transactions(store, tf)._1
      assert(!LocalScan.isLocal(df))
      val scans = df.queryExecution.sparkPlan.collect { case s: FileSourceScanExec => s }
      assert(scans.nonEmpty, df.queryExecution.sparkPlan.treeString)
      assert(df.collect().length == 3)
    }
  }

  test("a crash-left _old_bkt=N is healed before the local state read") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val expected = store.readState("account").filter(s"addr = '$A'").head().getAs[Long]("microalgos")
    val dir = Paths.get(s"${store.root}/account/bkt=${store.bucketOfValue(A)}")
    val old = Paths.get(s"${store.root}/account/_old_bkt=${store.bucketOfValue(A)}")
    Files.move(dir, old, StandardCopyOption.ATOMIC_MOVE) // crash between the two renames
    val (df, _) = Api.accounts(store, Api.AccountQueryOptions(equalToAddress = Some(A)))
    assert(LocalScan.isLocal(df))
    val rows = df.collect()
    assert(rows.length == 1 && rows.head.getAs[Long]("microalgos") == expected)
    assert(Files.exists(dir) && !Files.exists(old))
  }
}
