package graft

import graft.codec.BlockCodec
import graft.ingest.{BlockIngest, TableStore}
import graft.model._
import graft.query.Api
import graft.streaming.StreamIngest
import java.nio.file.{Files, Paths}

/** Executable tour of the engine's full vertical (SURVEY.md §7.2):
  * genesis → streaming ingest of per-round block files → state tables →
  * read API with pagination. Run: `sbt "runMain graft.EngineDemo"`.
  */
object EngineDemo {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(4)
    spark.sparkContext.setLogLevel("WARN")

    import graft.codec.Codecs
    def addr(i: Int) = Codecs.addressEncode(Array.fill(32)(i.toByte))
    val (a, b, c) = (addr(1), addr(2), addr(3))

    val root = Files.createTempDirectory("graft-demo").toString
    val inDir = s"$root/blocks"
    Files.createDirectories(Paths.get(inDir))
    val store = new TableStore(spark, s"$root/tables", nBuckets = 4)

    // 1. Genesis (A2)
    BlockIngest.initGenesis(store, Seq((a, 1000000L, "{}"), (b, 500000L, "{}")), "demo-net")
    println(s"genesis: nextRound=${store.nextRound}")

    // 2. Per-round block files (A1) — pay, asset create+transfer, app+inners
    def pay(from: String, to: String, amt: Long) = SignedTxnWithAD(
      txn = Txn(txType = "pay", sender = from, receiver = to, amount = BigInt(amt), fee = 1000),
      sig = Array.fill(64)(7.toByte))
    val inner = SignedTxnWithAD(txn = Txn(txType = "pay", sender = c, receiver = a, amount = BigInt(5)))
    val appl = SignedTxnWithAD(
      txn = Txn(txType = "appl", sender = b, applicationId = 900, accounts = Vector(c), fee = 1000),
      sig = Array.fill(64)(8.toByte),
      applyData = ApplyData(evalDelta = EvalDelta(innerTxns = Vector(inner))))
    val blocks = Seq(
      Block(0, 1700000000L, genesisId = "demo", feeSink = addr(250), rewardsPool = addr(251),
        txnCounter = 1, payset = Vector(pay(a, b, 12345)),
        delta = LedgerDelta(accounts = Vector(
          AccountDelta(a, 987655), AccountDelta(b, 512345)))),
      Block(1, 1700000004L, genesisId = "demo", feeSink = addr(250), rewardsPool = addr(251),
        txnCounter = 3, payset = Vector(appl, pay(b, a, 111)),
        delta = LedgerDelta(accounts = Vector(AccountDelta(b, 512234)))))
    blocks.foreach(bl => Files.writeString(
      Paths.get(inDir, f"round-${bl.round}%012d.json"), BlockCodec.blockToJson(bl)))

    // 3. Structured Streaming ingest (§2.H)
    val q = StreamIngest.start(spark, store, inDir, s"$root/ck")
    q.awaitTermination(120000)
    println(s"ingested: nextRound=${store.nextRound} txnRows=${store.read("txn").count()}")

    // 4. Read API (§2.D): transactions by address, newest-first, paginated
    val (txns, asOf) = Api.transactions(store, Api.TransactionFilter(address = Some(a), limit = Some(2)))
    println(s"transactions for A (asOf=$asOf):")
    txns.select("round", "intra", "typeenum", "txid").show(20, 24)

    val (accts, _) = Api.accounts(store, Api.AccountQueryOptions())
    println("accounts:")
    accts.select("addr", "microalgos", "deleted", "created_at").show(20, 16)

    // 5. Txid point lookup through the bloom file index: only candidate
    //    files are listed (d.i.y. database index for a random key).
    val someTxid = store.read("txn").filter(org.apache.spark.sql.functions.col("txid").isNotNull)
      .select("txid").head().getString(0)
    val candFiles = store.txidCandidateFiles(someTxid)
    val (byTxid, _) = Api.transactions(store, Api.TransactionFilter(txid = Some(someTxid)))
    println(s"txid lookup: ${byTxid.count()} row via ${candFiles.size} of " +
      s"${store.manifest("txn").size} committed files")

    // 6. The same index serves plain SQL over the registered views
    //    (plans/TxidIndexPruneRule, installed by createViews).
    store.createViews()
    spark.sql(s"SELECT round, intra FROM txn WHERE txid = '$someTxid'").show()

    println(s"health: ${Api.health(store)}")
    spark.stop()
  }
}
