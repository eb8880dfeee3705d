package graftbench

import graft.codec.{Codecs, TxnId}
import graft.model._
import scala.collection.mutable

object Zipf {
  /** Continuous Zipf over ranks [0, n): density ∝ (1 + x)^-s. */
  def draw(rnd: java.util.SplittableRandom, n: Int, s: Double): Int = {
    if (n <= 1) return 0
    val u = rnd.nextDouble()
    val x =
      if (math.abs(s - 1.0) < 1e-9) math.exp(u * math.log(n + 1.0)) - 1.0
      else { val a = 1 - s; math.pow(u * (math.pow(n + 1.0, a) - 1.0) + 1.0, 1.0 / a) - 1.0 }
    math.min(n - 1, math.max(0, x.toInt))
  }
}

/** Generator knobs. Shares are of the root transactions in a round. The
  * defaults are assumptions, not measured from a live network (README.md,
  * "Traffic assumptions"). */
final case class GenParams(
    txnsPerRound: Int = 100,
    zipfS: Double = 1.0,
    newAccountShare: Double = 0.2, // payments to a brand-new address
    reopenShare: Double = 0.02, // payments to a previously closed address
    closeShare: Double = 0.01, // payments that close the sender
    payShare: Double = 0.55,
    axferShare: Double = 0.25,
    acfgShare: Double = 0.05) // the rest is appl

/** Initial state written straight into the store before the timed part
  * (ingest_follow). Counts are upper bounds; keys are drawn with the
  * generator's skew. */
final case class BulkState(accounts: Int, assets: Int, holdings: Int,
                           apps: Int, locals: Int, boxes: Int)

// ── Expected state: one value per key, as the reference's writer.go
//    statements leave it when applied one at a time in block order. ─────

final case class ExpAccount(microalgos: Long, rewardsbase: Long, rewardsTotal: Long,
    deleted: Boolean, createdAt: Long, closedAt: Option[Long],
    keytype: Option[String], data: Option[String])
final case class ExpCreatable(creator: String, params: Option[String],
    deleted: Boolean, createdAt: Long, closedAt: Option[Long])
final case class ExpHolding(amount: BigInt, frozen: Boolean,
    deleted: Boolean, createdAt: Long, closedAt: Option[Long])
final case class ExpLocal(state: Option[String], deleted: Boolean,
    createdAt: Long, closedAt: Option[Long])

/** One txn-table row as the model expects it: `addrs` are the addresses
  * the row's participation rows carry. */
final case class ExpTxn(round: Long, intra: Int, txid: Option[String],
    asset: Long, addrs: Seq[String])

/** Last-writer-wins model of the six state tables plus an index of the
  * three append tables. It reads only the generated blocks, never the
  * engine: each ledger-delta record is one statement, applied in order. */
final class ExpectedState {
  val accounts = mutable.HashMap.empty[String, ExpAccount]
  val assets = mutable.HashMap.empty[Long, ExpCreatable]
  val apps = mutable.HashMap.empty[Long, ExpCreatable]
  val holdings = mutable.HashMap.empty[(String, Long), ExpHolding]
  val locals = mutable.HashMap.empty[(String, Long), ExpLocal]
  val boxes = mutable.HashMap.empty[(Long, String), Array[Byte]]

  var nextRound = 0L
  var txnRows = 0L
  var participationRows = 0L
  var headerRows = 0L
  // append-table index for read checks (filled only when asked for)
  var indexTxns = false
  val txns = mutable.ArrayBuffer.empty[ExpTxn]
  val byAddr = mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]]
  val byAsset = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Int]]
  val byTxid = mutable.HashMap.empty[String, Int]
  val roundRows = mutable.HashMap.empty[Long, (Int, Int)] // round -> (first row, count)

  private def upsert[K, V](m: mutable.HashMap[K, V], k: K)(f: Option[V] => V): Unit =
    m.update(k, f(m.get(k)))

  def applyBlock(b: Block, rows: Seq[ExpTxn]): Unit = {
    val r = b.round
    require(r == nextRound, s"model expects round $nextRound, got $r")
    // sig-type deltas: last root txn of each sender wins (writer.go:163-179)
    val kt = mutable.HashMap.empty[String, Option[String]]
    b.payset.foreach { s =>
      kt(s.txn.sender) =
        if (s.txn.rekeyTo.nonEmpty) None
        else if (s.sig.nonEmpty) Some("sig")
        else if (s.msigPresent) Some("msig")
        else Some("lsig")
    }
    b.delta.accounts.foreach { a =>
      val k = kt.get(a.addr)
      upsert(accounts, a.addr) { prev =>
        val created = prev.map(_.createdAt).getOrElse(r)
        val keytype = k.getOrElse(prev.flatMap(_.keytype))
        if (a.microAlgos == 0)
          ExpAccount(0, 0, 0, deleted = true, created, Some(r), keytype, Some("null"))
        else
          ExpAccount(a.microAlgos, a.rewardsBase, a.rewardedMicroAlgos, deleted = false,
            created, prev.flatMap(_.closedAt), keytype, Some(a.accountDataJson))
      }
    }
    def creatable(m: mutable.HashMap[Long, ExpCreatable], id: Long, addr: String,
                  deleted: Boolean, params: Option[String]): Unit =
      upsert(m, id) { prev =>
        val created = prev.map(_.createdAt).getOrElse(r)
        if (deleted) ExpCreatable(addr, Some("null"), deleted = true, created, Some(r))
        else ExpCreatable(addr, params, deleted = false, created, prev.flatMap(_.closedAt))
      }
    b.delta.assetResources.foreach { a =>
      if (a.paramsDeleted) creatable(assets, a.aidx, a.addr, deleted = true, None)
      else a.paramsJson.foreach(p => creatable(assets, a.aidx, a.addr, deleted = false, Some(p)))
      if (a.holdingDeleted || a.holding.isDefined) upsert(holdings, (a.addr, a.aidx)) { prev =>
        val created = prev.map(_.createdAt).getOrElse(r)
        if (a.holdingDeleted) ExpHolding(0, frozen = false, deleted = true, created, Some(r))
        else ExpHolding(a.holding.get.amount, a.holding.get.frozen, deleted = false, created,
          prev.flatMap(_.closedAt))
      }
    }
    b.delta.appResources.foreach { a =>
      if (a.paramsDeleted) creatable(apps, a.aidx, a.addr, deleted = true, None)
      else a.paramsJson.foreach(p => creatable(apps, a.aidx, a.addr, deleted = false, Some(p)))
      if (a.stateDeleted || a.localStateJson.isDefined) upsert(locals, (a.addr, a.aidx)) { prev =>
        val created = prev.map(_.createdAt).getOrElse(r)
        if (a.stateDeleted) ExpLocal(Some("null"), deleted = true, created, Some(r))
        else ExpLocal(a.localStateJson, deleted = false, created, prev.flatMap(_.closedAt))
      }
    }
    b.delta.kvMods.foreach { kv =>
      val (app, name) = Codecs.boxKeySplit(kv.key)
      val k = (app, new String(name, "ISO-8859-1"))
      kv.value match {
        case Some(v) => boxes(k) = v
        case None => boxes.remove(k)
      }
    }
    txnRows += rows.size
    participationRows += rows.map(_.addrs.size).sum
    headerRows += 1
    if (indexTxns) {
      roundRows(r) = (txns.size, rows.size)
      rows.foreach { t =>
        val i = txns.size
        txns += t
        t.addrs.foreach(a => byAddr.getOrElseUpdate(a, mutable.ArrayBuffer.empty) += i)
        if (t.asset != 0) byAsset.getOrElseUpdate(t.asset, mutable.ArrayBuffer.empty) += i
        t.txid.foreach(byTxid(_) = i)
      }
    }
    nextRound = r + 1
  }
}

/** Seeded block generator: Zipf-skewed accounts, assets and apps; pay,
  * axfer, acfg and appl (with inner txns and box mods); account closes and
  * re-opens, holding and local-state deletes, asset and app destroys, box
  * deletes. Every block it returns has already been applied to `model`. */
final class ChainGen(seed: Long, p: GenParams) {
  private val rnd = new java.util.SplittableRandom(seed)
  val model = new ExpectedState
  val genesisId = "perfbench-v1"
  val genesisHash: Array[Byte] = Array.tabulate(32)(i => (seed * 31 + i).toByte)

  // ── population (index order is hotness order: low index = hot) ──────
  private val accts = mutable.ArrayBuffer.empty[String]
  private val live = mutable.HashMap.empty[String, Long] // addr -> balance
  private val closed = mutable.ArrayBuffer.empty[String]
  private val assetIds = mutable.ArrayBuffer.empty[Long]
  private val assetCreator = mutable.HashMap.empty[Long, String]
  private val holders = mutable.HashMap.empty[Long, mutable.ArrayBuffer[String]]
  private val holdAmt = mutable.HashMap.empty[(String, Long), BigInt]
  private val appIds = mutable.ArrayBuffer.empty[Long]
  private val appCreator = mutable.HashMap.empty[Long, String]
  private val optedIn = mutable.HashMap.empty[Long, mutable.ArrayBuffer[String]]
  private val localSet = mutable.HashSet.empty[(String, Long)]
  private val appBoxes = mutable.HashMap.empty[Long, mutable.ArrayBuffer[String]]
  private var nextCreatable = 1000L
  private var txnCounter = 0L
  private var noteSeq = 0L
  private var round = 0L
  private val acctData = mutable.HashMap.empty[String, String]

  private def newAddress(): String = {
    val pk = new Array[Byte](32)
    var i = 0
    while (i < 32) { pk(i) = rnd.nextInt(256).toByte; i += 1 }
    Codecs.addressEncode(pk)
  }

  private def zipf(n: Int): Int = Zipf.draw(rnd, n, p.zipfS)

  private def pickLive(): String = {
    var tries = 0
    while (tries < 50) {
      val a = accts(zipf(accts.size))
      if (live.contains(a)) return a
      tries += 1
    }
    live.keysIterator.next()
  }

  private def pickFrom[T](xs: mutable.ArrayBuffer[T]): T = xs(zipf(xs.size))

  /** Every address ever created, hottest first (read-key choice). */
  def addresses: collection.IndexedSeq[String] = accts

  val feeSink: String = newAddress()
  val rewardsPool: String = newAddress()

  /** Genesis allocations (addr, microalgos, account-data JSON), also the
    * model's and generator's starting population. */
  def genesis(n: Int): Seq[(String, Long, String)] = {
    val out = mutable.ArrayBuffer((feeSink, 1000000000000L, "{}"), (rewardsPool, 1000000000000L, "{}"))
    (0 until n).foreach(_ => out += ((newAddress(), 1000000000L + rnd.nextInt(1000000), "{}")))
    out.foreach { case (a, bal, data) =>
      if (a != feeSink && a != rewardsPool) accts += a
      live(a) = bal
      model.accounts(a) = ExpAccount(bal, 0, 0, deleted = false, 0L, None, None, Some(data))
    }
    out.toSeq
  }

  private def assetParamsJson(id: Long, creator: String, v: Int): String =
    s"""{"an":"asset$id","dc":${id % 7},"m":"$creator","t":${1000000000L + id},"un":"U${id % 1000}","v":$v}"""
  private def appParamsJson(id: Long, v: Int): String =
    s"""{"ap":"prog$id","gs":{"counter":$v},"v":$v}"""
  private def localJson(app: Long, v: Int): String = s"""{"app":$app,"ls":$v}"""
  private def boxValue(): Array[Byte] = {
    val v = new Array[Byte](8 + rnd.nextInt(56))
    var i = 0
    while (i < v.length) { v(i) = rnd.nextInt(256).toByte; i += 1 }
    v
  }

  /** Extra initial state (assets, holdings, apps, local states, boxes)
    * for a store seeded in bulk; genesis must have run. Returns the rows
    * per table in the store's column order. */
  def bulkState(s: BulkState): Map[String, Seq[org.apache.spark.sql.Row]] = {
    import org.apache.spark.sql.Row
    (0 until s.assets).foreach { _ =>
      val id = nextCreatable; nextCreatable += 1
      val creator = pickLive()
      assetIds += id; assetCreator(id) = creator
      model.assets(id) = ExpCreatable(creator, Some(assetParamsJson(id, creator, 0)), deleted = false, 0L, None)
      holders(id) = mutable.ArrayBuffer(creator)
      holdAmt((creator, id)) = BigInt(1000000000L + id)
    }
    var h = 0
    while (h < s.holdings && assetIds.nonEmpty) {
      val id = pickFrom(assetIds); val a = pickLive()
      if (!holdAmt.contains((a, id))) {
        holders(id) += a; holdAmt((a, id)) = BigInt(rnd.nextInt(100000))
      }
      h += 1
    }
    holdAmt.foreach { case (k, amt) =>
      model.holdings(k) = ExpHolding(amt, frozen = false, deleted = false, 0L, None)
    }
    (0 until s.apps).foreach { _ =>
      val id = nextCreatable; nextCreatable += 1
      val creator = pickLive()
      appIds += id; appCreator(id) = creator
      optedIn(id) = mutable.ArrayBuffer.empty
      appBoxes(id) = mutable.ArrayBuffer.empty
      model.apps(id) = ExpCreatable(creator, Some(appParamsJson(id, 0)), deleted = false, 0L, None)
      val appAddr = appAddress(id)
      live(appAddr) = 1000000000000L
      model.accounts(appAddr) = ExpAccount(1000000000000L, 0, 0, deleted = false, 0L, None, None, Some("{}"))
    }
    var l = 0
    while (l < s.locals && appIds.nonEmpty) {
      val id = pickFrom(appIds); val a = pickLive()
      if (localSet.add((a, id))) {
        optedIn(id) += a
        model.locals((a, id)) = ExpLocal(Some(localJson(id, 0)), deleted = false, 0L, None)
      }
      l += 1
    }
    var bx = 0
    while (bx < s.boxes && appIds.nonEmpty) {
      val id = pickFrom(appIds)
      val name = s"box${appBoxes(id).size}"
      appBoxes(id) += name
      model.boxes((id, name)) = boxValue()
      bx += 1
    }
    def dec(x: BigInt) = new java.math.BigDecimal(x.bigInteger)
    Map(
      "asset" -> model.assets.toSeq.map { case (id, c) =>
        Row(id, c.creator, c.params.orNull, c.deleted, c.createdAt, null) },
      "account_asset" -> model.holdings.toSeq.map { case ((a, id), x) =>
        Row(a, id, dec(x.amount), x.frozen, x.deleted, x.createdAt, null) },
      "app" -> model.apps.toSeq.map { case (id, c) =>
        Row(id, c.creator, c.params.orNull, c.deleted, c.createdAt, null) },
      "account_app" -> model.locals.toSeq.map { case ((a, id), x) =>
        Row(a, id, x.state.orNull, x.deleted, x.createdAt, null) },
      "app_box" -> model.boxes.toSeq.map { case ((id, n), v) =>
        Row(id, n.getBytes("ISO-8859-1"), v) })
  }

  /** Every account the model holds, as genesis allocations. */
  def allocations: Seq[(String, Long, String)] =
    model.accounts.toSeq.map { case (a, x) => (a, x.microalgos, x.data.getOrElse("{}")) }

  private val appAddrCache = mutable.HashMap.empty[Long, String]
  private def appAddress(id: Long): String = appAddrCache.getOrElseUpdate(id,
    Codecs.addressEncode(Codecs.sha512_256(s"appID$id".getBytes("UTF-8"))))

  // ── one block ──────────────────────────────────────────────────────

  /** Per-block pending ledger delta, first-touch ordered. */
  private final class Pending {
    val accounts = mutable.LinkedHashSet.empty[String]
    val assetRes = mutable.LinkedHashMap.empty[(String, Long), AssetResourceRecord]
    val appRes = mutable.LinkedHashMap.empty[(String, Long), AppResourceRecord]
    val kv = mutable.LinkedHashMap.empty[(Long, String), Option[Array[Byte]]]
    def touch(a: String): Unit = accounts += a
    def holding(a: String, id: Long): Unit = {
      val prev = assetRes.getOrElse((a, id), AssetResourceRecord(a, id))
      assetRes((a, id)) = holdAmt.get((a, id)) match {
        case Some(x) => prev.copy(holdingDeleted = false, holding = Some(AssetHolding(x, frozen = false)))
        case None => prev.copy(holdingDeleted = true, holding = None)
      }
    }
    def assetParams(a: String, id: Long, json: Option[String]): Unit = {
      val prev = assetRes.getOrElse((a, id), AssetResourceRecord(a, id))
      assetRes((a, id)) = prev.copy(paramsDeleted = json.isEmpty, paramsJson = json)
    }
    def appParams(a: String, id: Long, json: Option[String]): Unit = {
      val prev = appRes.getOrElse((a, id), AppResourceRecord(a, id))
      appRes((a, id)) = prev.copy(paramsDeleted = json.isEmpty, paramsJson = json)
    }
    def local(a: String, id: Long, json: Option[String]): Unit = {
      val prev = appRes.getOrElse((a, id), AppResourceRecord(a, id))
      appRes((a, id)) = prev.copy(stateDeleted = json.isEmpty, localStateJson = json)
    }
  }

  private def fee(pd: Pending, a: String): Unit = {
    live(a) = live(a) - 1000
    pd.touch(a)
  }

  private def signed(t: Txn, ad: ApplyData = ApplyData()): SignedTxnWithAD = {
    val u = rnd.nextInt(100)
    val sig = new Array[Byte](64)
    if (u < 90) {
      var i = 0
      while (i < 64) { sig(i) = rnd.nextInt(256).toByte; i += 1 }
      SignedTxnWithAD(t, sig = sig, applyData = ad)
    } else if (u < 95) SignedTxnWithAD(t, msigPresent = true, applyData = ad)
    else SignedTxnWithAD(t, lsig = Some(LogicSig(logic = Array[Byte](1, 32, 1, 1))), applyData = ad)
  }

  private def note(): Array[Byte] = {
    noteSeq += 1
    java.nio.ByteBuffer.allocate(8).putLong(noteSeq).array()
  }

  private def base(kind: String, sender: String): Txn =
    Txn(kind, sender, fee = 1000, firstValid = round, lastValid = round + 1000, note = note())

  /** (txn, subtree addresses of the root, inner rows (asset, direct addrs)) */
  private type Gen = (SignedTxnWithAD, Long, Seq[String], Seq[(Long, Seq[String])])

  private def genPay(pd: Pending): Gen = {
    val s = pickLive()
    val u = rnd.nextDouble()
    val rcv =
      if (u < p.newAccountShare) { val a = newAddress(); accts += a; a }
      else if (u < p.newAccountShare + p.reopenShare && closed.nonEmpty)
        closed.remove(rnd.nextInt(closed.size))
      else pickLive()
    val amt = math.min(100000L + rnd.nextInt(1000000), math.max(0L, live(s) / 20))
    val closing = rnd.nextDouble() < p.closeShare && s != rcv
    fee(pd, s)
    if (closing) {
      val rest = live(s)
      live.remove(s); closed += s
      live(rcv) = live.getOrElse(rcv, 0L) + rest
      pd.touch(s); pd.touch(rcv)
      val t = base("pay", s).copy(receiver = rcv, amount = 0, closeRemainderTo = rcv)
      (signed(t, ApplyData(closeAmount = rest)), 0L, Seq(s, rcv).distinct, Nil)
    } else {
      live(s) = live(s) - amt
      live(rcv) = live.getOrElse(rcv, 0L) + amt
      pd.touch(s); pd.touch(rcv)
      val rekey = rnd.nextInt(200) == 0
      val t0 = base("pay", s).copy(receiver = rcv, amount = amt)
      val t = if (rekey) t0.copy(rekeyTo = rcv) else t0
      if (rekey) acctData(s) = s"""{"spend":"$rcv"}"""
      (signed(t), 0L, Seq(s, rcv).distinct, Nil)
    }
  }

  private def genAxfer(pd: Pending): Gen = {
    if (assetIds.isEmpty) return genAcfg(pd)
    val id = pickFrom(assetIds)
    val hs = holders(id)
    val u = rnd.nextInt(100)
    if (u < 30 || hs.size < 2) { // opt-in
      val s = pickLive()
      fee(pd, s)
      if (!holdAmt.contains((s, id))) { hs += s; holdAmt((s, id)) = BigInt(0) }
      pd.holding(s, id)
      val t = base("axfer", s).copy(xferAsset = id, assetReceiver = s)
      (signed(t), id, Seq(s), Nil)
    } else {
      val s = pickFrom(hs)
      val creator = assetCreator(id)
      if (!live.contains(s)) { // holder account closed: re-fund it with a payment instead
        return genPay(pd)
      }
      fee(pd, s)
      if (u < 90 || s == creator) { // transfer
        var rcv = pickFrom(hs)
        if (rcv == s) rcv = creator
        val bal = holdAmt((s, id))
        val amt = if (bal > 0) bal / 10 + 1 min bal else BigInt(0)
        holdAmt((s, id)) = bal - amt
        holdAmt((rcv, id)) = holdAmt.getOrElse((rcv, id), BigInt(0)) + amt
        if (!hs.contains(rcv)) hs += rcv
        pd.holding(s, id); pd.holding(rcv, id)
        val t = base("axfer", s).copy(xferAsset = id, assetAmount = amt, assetReceiver = rcv)
        (signed(t), id, Seq(s, rcv).distinct, Nil)
      } else { // close out the holding to the creator
        val bal = holdAmt.remove((s, id)).get
        hs -= s
        holdAmt((creator, id)) = holdAmt.getOrElse((creator, id), BigInt(0)) + bal
        pd.holding(s, id); pd.holding(creator, id)
        val t = base("axfer", s).copy(xferAsset = id, assetReceiver = creator, assetCloseTo = creator)
        (signed(t, ApplyData(assetClosingAmount = bal)), id, Seq(s, creator).distinct, Nil)
      }
    }
  }

  private def genAcfg(pd: Pending): Gen = {
    val u = rnd.nextInt(100)
    if (u < 50 || assetIds.size < 5) { // create
      val s = pickLive()
      fee(pd, s)
      val id = nextCreatable; nextCreatable += 1
      assetIds += id; assetCreator(id) = s
      holders(id) = mutable.ArrayBuffer(s)
      holdAmt((s, id)) = BigInt(1000000000L + id)
      pd.assetParams(s, id, Some(assetParamsJson(id, s, 0)))
      pd.holding(s, id)
      val t = base("acfg", s).copy(assetParams = Some(AssetParams(
        total = BigInt(1000000000L + id), unitName = s"U${id % 1000}", assetName = s"asset$id", manager = s)))
      (signed(t, ApplyData(configAsset = id)), id, Seq(s), Nil)
    } else {
      val id = pickFrom(assetIds)
      val creator = assetCreator(id)
      if (!live.contains(creator)) return genPay(pd)
      fee(pd, creator)
      if (u < 85) { // reconfigure
        pd.assetParams(creator, id, Some(assetParamsJson(id, creator, round.toInt)))
        val t = base("acfg", creator).copy(configAsset = id,
          assetParams = Some(AssetParams(manager = creator, url = s"u$round")))
        (signed(t), id, Seq(creator), Nil)
      } else { // destroy
        assetIds -= id
        holders.remove(id).foreach(_.foreach(a => holdAmt.remove((a, id))))
        pd.assetParams(creator, id, None)
        pd.holding(creator, id)
        val t = base("acfg", creator).copy(configAsset = id)
        (signed(t), id, Seq(creator), Nil)
      }
    }
  }

  private def genAppl(pd: Pending): Gen = {
    val u = rnd.nextInt(100)
    if (u < 8 || appIds.size < 3) { // create
      val s = pickLive()
      fee(pd, s)
      val id = nextCreatable; nextCreatable += 1
      appIds += id; appCreator(id) = s
      optedIn(id) = mutable.ArrayBuffer.empty
      appBoxes(id) = mutable.ArrayBuffer.empty
      val appAddr = appAddress(id)
      live(appAddr) = 1000000000000L
      pd.touch(appAddr)
      pd.appParams(s, id, Some(appParamsJson(id, 0)))
      val t = base("appl", s).copy(appArgs = Vector("create".getBytes("UTF-8")))
      (signed(t, ApplyData(applicationId = id)), id, Seq(s), Nil)
    } else {
      val id = pickFrom(appIds)
      val creator = appCreator(id)
      val s = pickLive()
      fee(pd, s)
      val foreign = Vector.fill(rnd.nextInt(3))(pickLive()).filter(_ != s).distinct
      val t0 = base("appl", s).copy(applicationId = id, accounts = foreign)
      val subtree = mutable.LinkedHashSet(s) ++ foreign
      if (u < 25) { // opt in
        if (localSet.add((s, id))) optedIn(id) += s
        pd.local(s, id, Some(localJson(id, 0)))
        (signed(t0.copy(appArgs = Vector("optin".getBytes("UTF-8")))), id, subtree.toSeq, Nil)
      } else if (u < 33 && optedIn(id).nonEmpty) { // close out a local state
        val a = pickFrom(optedIn(id))
        if (!live.contains(a)) return genPay(pd)
        optedIn(id) -= a; localSet.remove((a, id))
        fee(pd, a)
        pd.local(a, id, None)
        val t = base("appl", a).copy(applicationId = id, appArgs = Vector("close".getBytes("UTF-8")))
        (signed(t), id, Seq(a), Nil)
      } else if (u < 35 && live.contains(creator) && appIds.size > 10) { // delete the app
        appIds -= id
        optedIn.remove(id).foreach(_.foreach(a => localSet.remove((a, id))))
        pd.appParams(creator, id, None)
        appBoxes.remove(id).foreach(_.foreach(n => pd.kv((id, n)) = None))
        fee(pd, creator)
        val t = base("appl", creator).copy(applicationId = id, appArgs = Vector("delete".getBytes("UTF-8")))
        (signed(t), id, Seq(creator), Nil)
      } else { // call: global state change, maybe local, inner payments, box mods
        pd.appParams(creator, id, Some(appParamsJson(id, round.toInt * 1000 + rnd.nextInt(1000))))
        if (localSet.contains((s, id))) pd.local(s, id, Some(localJson(id, rnd.nextInt(1000))))
        val appAddr = appAddress(id)
        val inner = mutable.ArrayBuffer.empty[(Long, Seq[String])]
        val innerTxns = Vector.fill(if (rnd.nextInt(2) == 0) 0 else 1 + rnd.nextInt(2)) {
          live(appAddr) = live(appAddr) - 2000 - 1000
          live(s) = live(s) + 2000
          pd.touch(appAddr); pd.touch(s)
          val it = Txn("pay", appAddr, fee = 1000, receiver = s, amount = 2000)
          inner += ((0L, Seq(appAddr, s)))
          subtree += appAddr
          val nested =
            if (rnd.nextInt(5) == 0 && foreign.nonEmpty) {
              val f = foreign.head
              live(appAddr) = live(appAddr) - 1500
              live(f) = live(f) + 500
              pd.touch(f)
              inner += ((0L, Seq(appAddr, f)))
              Vector(SignedTxnWithAD(Txn("pay", appAddr, fee = 1000, receiver = f, amount = 500)))
            } else Vector.empty
          SignedTxnWithAD(it, applyData = ApplyData(evalDelta = EvalDelta(innerTxns = nested)))
        }
        val boxes = appBoxes(id)
        (0 until rnd.nextInt(3)).foreach { _ =>
          val v = rnd.nextInt(10)
          if (v < 4 || boxes.isEmpty) { // new box
            val n = s"box${boxes.size}-$round-${rnd.nextInt(1000)}"
            if (!boxes.contains(n)) { boxes += n; pd.kv((id, n)) = Some(boxValue()) }
          } else if (v < 8) pd.kv((id, pickFrom(boxes))) = Some(boxValue())
          else { val n = boxes.remove(rnd.nextInt(boxes.size)); pd.kv((id, n)) = None }
        }
        val ad = ApplyData(evalDelta = EvalDelta(innerTxns = innerTxns,
          globalDelta = Map("counter" -> round.toString)))
        (signed(t0, ad), id, subtree.toSeq, inner.toSeq)
      }
    }
  }

  /** Next block; the model has applied it on return. Rows are the txn-table
    * rows it should produce (roots with their inner rows, in intra order). */
  def nextBlock(): Block = {
    val pd = new Pending
    val payset = Vector.newBuilder[SignedTxnWithAD]
    val rows = mutable.ArrayBuffer.empty[(SignedTxnWithAD, Long, Seq[String], Seq[(Long, Seq[String])])]
    (0 until p.txnsPerRound).foreach { _ =>
      val u = rnd.nextDouble()
      val g =
        if (u < p.payShare) genPay(pd)
        else if (u < p.payShare + p.axferShare) genAxfer(pd)
        else if (u < p.payShare + p.axferShare + p.acfgShare) genAcfg(pd)
        else genAppl(pd)
      payset += g._1
      rows += g
    }
    val ps = payset.result()
    txnCounter += rows.map(r => 1 + r._4.size).sum
    val delta = LedgerDelta(
      accounts = pd.accounts.toVector.map { a =>
        AccountDelta(a, live.getOrElse(a, 0L), round / 1000, round, acctData.getOrElse(a, "{}"))
      },
      assetResources = pd.assetRes.values.toVector,
      appResources = pd.appRes.values.toVector,
      kvMods = pd.kv.toVector.map { case ((app, n), v) =>
        KvMod(Codecs.boxKeyMake(app, n.getBytes("ISO-8859-1")), v) })
    val b = Block(round = round, timestamp = 1700000000L + round * 3, rewardsLevel = round / 10,
      genesisId = genesisId, genesisHash = genesisHash, feeSink = feeSink,
      rewardsPool = rewardsPool, txnCounter = txnCounter, payset = ps, delta = delta)
    // expected txn rows: root, then its inner rows in preorder
    var intra = 0
    val exp = mutable.ArrayBuffer.empty[ExpTxn]
    rows.foreach { case (s, asset, subtree, inner) =>
      val txid =
        if (model.indexTxns) Some(TxnId.compute(s.txn.copy(genesisId = genesisId, genesisHash = genesisHash)))
        else None
      exp += ExpTxn(round, intra, txid, asset, subtree.distinct)
      intra += 1
      inner.foreach { case (a, addrs) => exp += ExpTxn(round, intra, None, a, addrs.distinct); intra += 1 }
    }
    model.applyBlock(b, exp.toSeq)
    round += 1
    b
  }
}
