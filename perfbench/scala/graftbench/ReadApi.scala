package graftbench

import graft.ingest.TableStore
import graft.query.Api
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import scala.collection.mutable

/** read_api: Indexer API reads from one closed-loop client while ingest is
  * idle. The store is built by the current ingest code: a large-batch
  * prefix, then a small-batch tail, so the manifest holds compacted files
  * and many small ones. Every response is checked against the model. */
object ReadApi extends AdaptiveSparkPlanHelper {
  val Params = GenParams(txnsPerRound = 100, newAccountShare = 0.1)
  val Genesis = 10000
  val Buckets = 16
  /** The prefix fills range bucket 0 (rounds 0-29) with three batches of
    * four files each (one per input partition on local[4]), past
    * TableStore's 8-file threshold; the first tail batch seals the bucket
    * and ingest compacts it to one file. The tail's small files stay in
    * bucket 1. */
  val PrefixBatches = 3
  val PrefixRounds = 10
  val RoundsPerPartition: Long = PrefixBatches * PrefixRounds
  val TailBatches = 2
  val TailRounds = 2
  val MinCycles = 4
  val Limit = 50
  val PageSize = 20

  /** Shapes and their requests per cycle of 20: an assumed mix, not one
    * measured from Indexer request logs (README.md, "Traffic assumptions"). */
  val Shapes: Seq[(String, Int)] = Seq(
    "txns_by_address" -> 4, "txn_by_txid" -> 3, "account" -> 3, "txns_by_round_range" -> 2,
    "txns_by_asset" -> 2, "get_block" -> 2, "asset_balances" -> 2, "app_boxes" -> 1,
    "txns_by_address_page2" -> 1)
  /** One cycle, shapes spread evenly through it. Runs measure whole cycles,
    * at least [[MinCycles]], so every run sends the same mix and only the
    * keys follow the seed. */
  val Cycle: Seq[String] = Shapes.flatMap { case (shape, n) =>
    (0 until n).map(k => ((k + 0.5) / n, shape))
  }.sortBy(_._1).map(_._2)
  /** Shapes whose median is reported on its own. */
  val NamedShapes = Seq("txns_by_address", "txn_by_txid", "account", "get_block", "asset_balances")

  final class Setup(val gen: ChainGen, val store: TableStore) {
    val m: ExpectedState = gen.model
    lazy val addrs: IndexedSeq[String] = gen.addresses.toIndexedSeq
    lazy val pagedAddrs: IndexedSeq[String] = addrs.filter(a => m.byAddr.get(a).exists(_.size > PageSize))
    lazy val roots: IndexedSeq[Int] = m.txns.indices.filter(i => m.txns(i).txid.isDefined)
    lazy val assetIds: IndexedSeq[Long] = m.assets.keys.toIndexedSeq.sorted
    lazy val boxApps: IndexedSeq[Long] = m.boxes.keys.map(_._1).toIndexedSeq.distinct.sorted
    lazy val holdersOf: Map[Long, IndexedSeq[(String, BigInt)]] =
      m.holdings.toSeq.filter(!_._2.deleted).groupBy(_._1._2).map { case (a, hs) =>
        a -> hs.map { case ((addr, _), h) => (addr, h.amount) }.sortBy(_._1).toIndexedSeq
      }
    lazy val holdingsOf: Map[String, Set[(Long, BigInt, Boolean)]] =
      m.holdings.toSeq.filter(!_._2.deleted).groupBy(_._1._1).map { case (a, hs) =>
        a -> hs.map { case ((_, id), h) => (id, h.amount, h.frozen) }.toSet
      }
    /** Files a full scan of each table would read. */
    lazy val tableFiles: Map[String, Long] = TableStore.Schemas.keys.map { t =>
      t -> (if (IngestKit.AppendTables.contains(t)) store.manifest(t).size.toLong
            else IngestKit.parquetFiles(java.nio.file.Paths.get(store.root, t)).size.toLong)
    }.toMap
  }

  def setup(ctx: Ctx): Setup = {
    val gen = new ChainGen(ctx.seed, Params)
    gen.model.indexTxns = true
    val store = new TableStore(ctx.spark, ctx.out.resolve("read-store").toString, Buckets, RoundsPerPartition)
    IngestKit.seedStore(ctx, gen, store, Genesis, None)
    (0 until PrefixBatches).foreach(_ => IngestKit.apply(ctx, store, IngestKit.blocks(gen, PrefixRounds)._2))
    (0 until TailBatches).foreach(_ => IngestKit.apply(ctx, store, IngestKit.blocks(gen, TailRounds)._2))
    val s = new Setup(gen, store)
    s.tableFiles // listing is part of set-up, not of the first read
    s
  }

  /** One timed request: build the DataFrame (the Api call, including its
    * driver-side manifest and bloom pruning), plan it, run it. */
  final case class Timed(buildMs: Double, planMs: Double, execMs: Double, rows: Array[Row], df: DataFrame) {
    def ms: Double = buildMs + planMs + execMs
  }

  def timed(build: => DataFrame): Timed = {
    val t0 = System.nanoTime()
    val df = build
    val t1 = System.nanoTime()
    df.queryExecution.executedPlan
    val t2 = System.nanoTime()
    val rows = df.collect()
    val t3 = System.nanoTime()
    Timed((t1 - t0) / 1e6, (t2 - t1) / 1e6, (t3 - t2) / 1e6, rows, df)
  }

  private def ri(r: Row): (Long, Int) = (r.getAs[Long]("round"), r.getAs[Int]("intra"))
  private def desc(m: ExpectedState, idx: Iterable[Int]): Seq[(Long, Int)] =
    idx.map(i => (m.txns(i).round, m.txns(i).intra)).toSeq.sortBy(x => (-x._1, -x._2))

  /** Runs one request of `shape`; returns the timing and whether the
    * response equals the model's answer. */
  def request(s: Setup, shape: String, rnd: java.util.SplittableRandom): (Timed, Boolean) = {
    val m = s.m
    def zipf(n: Int) = Zipf.draw(rnd, n, 1.0)
    val tf = Api.TransactionFilter()
    shape match {
      case "txns_by_address" =>
        val a = s.addrs(zipf(s.addrs.size))
        val t = timed(Api.transactions(s.store, tf.copy(address = Some(a), limit = Some(Limit)))._1)
        (t, t.rows.map(ri).toSeq == desc(m, m.byAddr.getOrElse(a, Nil)).take(Limit))
      case "txns_by_address_page2" =>
        val a = s.pagedAddrs(zipf(s.pagedAddrs.size))
        val f = tf.copy(address = Some(a), limit = Some(PageSize))
        val page1 = Api.transactions(s.store, f)._1.collect().map(ri)
        val (r0, i0) = page1.last
        val token = Api.nextToken(r0, i0, None, 0, ascending = false)
        val t = timed(Api.transactions(s.store, f.copy(nextToken = Some(token)))._1)
        val all = desc(m, m.byAddr(a))
        (t, page1.toSeq == all.take(PageSize) && t.rows.map(ri).toSeq == all.slice(PageSize, 2 * PageSize))
      case "txn_by_txid" =>
        val row = m.txns(s.roots(s.roots.size - 1 - zipf(s.roots.size)))
        val t = timed(Api.transactions(s.store, tf.copy(txid = row.txid))._1)
        (t, t.rows.map(ri).toSeq == Seq((row.round, row.intra)))
      case "txns_by_round_range" =>
        val lo = rnd.nextLong(m.nextRound)
        val hi = math.min(m.nextRound - 1, lo + 1 + rnd.nextInt(5))
        val t = timed(Api.transactions(s.store, tf.copy(minRound = Some(lo), maxRound = Some(hi),
          limit = Some(Limit)))._1)
        val exp = (lo to hi).flatMap(r => m.roundRows.get(r).map { case (first, n) => first until first + n }
          .getOrElse(Nil))
        (t, t.rows.map(ri).toSeq == desc(m, exp).take(Limit))
      case "txns_by_asset" =>
        val id = s.assetIds(zipf(s.assetIds.size))
        val t = timed(Api.transactions(s.store, tf.copy(assetId = Some(id), limit = Some(Limit)))._1)
        (t, t.rows.map(ri).toSeq == desc(m, m.byAsset.getOrElse(id, Nil)).take(Limit))
      case "account" =>
        val a = s.addrs(zipf(s.addrs.size))
        val t = timed(Api.accounts(s.store, Api.AccountQueryOptions(equalToAddress = Some(a),
          includeAssetHoldings = true))._1)
        val exp = m.accounts.get(a).filter(!_.deleted)
        val ok = (t.rows.toSeq, exp) match {
          case (Seq(), None) => true
          case (Seq(r), Some(x)) =>
            val hs = Option(r.getAs[Seq[Row]]("asset_holdings")).getOrElse(Nil)
              .map(h => (h.getLong(0), BigInt(h.getDecimal(1).toBigInteger), h.getBoolean(2))).toSet
            r.getAs[Long]("microalgos") == x.microalgos && r.getAs[Long]("created_at") == x.createdAt &&
              hs == s.holdingsOf.getOrElse(a, Set.empty)
          case _ => false
        }
        (t, ok)
      case "asset_balances" =>
        val id = s.assetIds(zipf(s.assetIds.size))
        val t = timed(Api.assetBalances(s.store, Api.AssetBalanceQuery(assetId = Some(id), limit = Some(Limit)))._1)
        val got = t.rows.map(r => (r.getAs[String]("addr"), BigInt(r.getAs[java.math.BigDecimal]("amount").toBigInteger))).toSeq
        (t, got == s.holdersOf.getOrElse(id, IndexedSeq.empty).take(Limit))
      case "app_boxes" =>
        val app = s.boxApps(zipf(s.boxApps.size))
        val t = timed(Api.applicationBoxes(s.store, Api.ApplicationBoxQuery(app, limit = Some(Limit)))._1)
        val exp = m.boxes.toSeq.filter(_._1._1 == app).sortBy(_._1._2).take(Limit)
        val ok = t.rows.length == exp.size && t.rows.zip(exp).forall { case (r, ((_, n), v)) =>
          new String(r.getAs[Array[Byte]]("name"), "ISO-8859-1") == n &&
            java.util.Arrays.equals(r.getAs[Array[Byte]]("value"), v)
        }
        (t, ok)
      case "get_block" =>
        val round = rnd.nextLong(m.nextRound)
        var header: Row = null
        val t = timed {
          val b = Api.getBlock(s.store, round)
          header = b.header
          b.transactions.get
        }
        val (first, n) = m.roundRows(round)
        val ok = header.getAs[Long]("round") == round &&
          t.rows.map(r => (r.getAs[Int]("intra"), Option(r.getAs[String]("txid")))).toSeq ==
            (first until first + n).map(i => (m.txns(i).intra, m.txns(i).txid))
        (t, ok)
    }
  }

  /** Files and bytes the request's scans read, and the files a full scan
    * of the same tables would read. */
  def scanned(s: Setup, df: DataFrame): (Long, Long, Long) = {
    val scans = collectWithSubqueries(df.queryExecution.executedPlan) { case f: FileSourceScanExec => f }
    val root = s.store.root.stripSuffix("/") + "/"
    val tables = scans.flatMap(_.relation.location.rootPaths.headOption).map { p =>
      val str = p.toUri.getPath
      val i = str.indexOf(root)
      if (i < 0) "" else str.substring(i + root.length).takeWhile(_ != '/')
    }.toSet
    val files = scans.map(f => f.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
    val bytes = scans.map(f => f.metrics.get("filesSize").map(_.value).getOrElse(0L)).sum
    (files, bytes, tables.toSeq.map(t => s.tableFiles.getOrElse(t, 0L)).sum)
  }

  def run(ctx: Ctx): Unit = {
    val r = ctx.report
    val s = Main.timedSetup(ctx)(setup(ctx))
    val rnd = new java.util.SplittableRandom(ctx.seed * 7919 + 17)
    // warm every shape once: first-use class loading and codegen
    Shapes.foreach { case (shape, _) => request(s, shape, rnd) }
    // One op is one cycle of the mix: with single requests as ops the
    // median fell between the latency clusters of different shapes and
    // swung by 24% between seeds. Per-request latencies are per-layer.
    val cycleMs = mutable.ArrayBuffer.empty[Double]
    var requests = 0
    val byShape = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[(Timed, (Long, Long, Long))]]
    var busy = 0.0; var i = 0
    while (busy < ctx.seconds * 1000 || i % Cycle.size != 0 || i < MinCycles * Cycle.size) {
      val shape = Cycle(i % Cycle.size)
      r.attempted += 1
      try {
        val (t, ok) = ctx.tracer.span(s"query.$shape", s"req$i")(request(s, shape, rnd))
        if (!ok) {
          r.failed += 1
          if (r.failed <= 5) System.err.println(s"[perfbench] WRONG ANSWER: $shape (request $i)")
        }
        busy += t.ms; requests += 1
        val scan = if (ctx.trace) scanned(s, t.df) else (0L, 0L, 0L)
        byShape.getOrElseUpdate(shape, mutable.ArrayBuffer.empty) += ((t, scan))
      } catch {
        case e: Exception =>
          r.failed += 1
          System.err.println(s"[perfbench] request $shape failed: $e")
      }
      i += 1
      if (i % Cycle.size == 0) cycleMs += busy - cycleMs.sum
    }
    Main.reportOps(ctx, requests / (busy / 1000), cycleMs.toSeq)
    Main.storeEnd(ctx, s.store)
    r.num("requests", requests)
    byShape.foreach { case (shape, xs) => r.num(s"requests.$shape", xs.size) }
    if (ctx.trace) {
      StoreLayers.emit(r, s.store)
      Shapes.foreach { case (shape, _) =>
        val xs = byShape.getOrElse(shape, mutable.ArrayBuffer.empty).toSeq
        if (NamedShapes.contains(shape)) r.layer(s"query.$shape.ms_p50") = Stats.median(xs.map(_._1.ms))
        r.layer(s"query.$shape.build_ms") = Stats.median(xs.map(_._1.buildMs))
        r.layer(s"query.$shape.plan_ms") = Stats.median(xs.map(_._1.planMs))
        r.layer(s"query.$shape.exec_ms") = Stats.median(xs.map(_._1.execMs))
        r.layer(s"query.$shape.files_scanned_frac") =
          Stats.mean(xs.map { case (_, (f, _, all)) => if (all > 0) f.toDouble / all else 0.0 })
        r.layer(s"query.$shape.bytes_read") = Stats.mean(xs.map(_._2._2.toDouble))
      }
    }
    r.str("store_params", s"nBuckets=$Buckets roundsPerPartition=$RoundsPerPartition " +
      s"prefix=${PrefixBatches}x$PrefixRounds tail=${TailBatches}x$TailRounds txnsPerRound=${Params.txnsPerRound}")
    r.num("rounds", s.m.nextRound); r.num("txn_rows", s.m.txnRows)
  }
}
