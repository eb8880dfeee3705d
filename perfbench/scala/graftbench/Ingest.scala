package graftbench

import graft.codec.BlockCodec
import graft.ingest.{BlockIngest, TableStore}
import graft.model.Block
import graft.streaming.StreamIngest
import graft.transform.{BlockTransforms, DeltaTransforms}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.Encoders
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Store set-up, the correctness gate, and per-layer tracing shared by the
  * ingest workloads (and by read_api's store build). */
object IngestKit {
  /** Bucketing key of each state table, as BlockIngest merges it. */
  val KeyCol: Map[String, String] = Map("account" -> "addr", "asset" -> "id",
    "account_asset" -> "addr", "app" -> "id", "account_app" -> "addr", "app_box" -> "app")
  val AppendTables = Seq("txn", "txn_participation", "block_header")

  def seedStore(ctx: Ctx, gen: ChainGen, store: TableStore, genesis: Int, bulk: Option[BulkState]): Unit = {
    gen.genesis(genesis)
    val extra = bulk.map(gen.bulkState).getOrElse(Map.empty)
    BlockIngest.initGenesis(store, gen.allocations, "perfbench")
    extra.foreach { case (t, rows) =>
      val df = ctx.spark.createDataFrame(rows.asJava, TableStore.Schemas(t))
      store.writeStateBuckets(t, KeyCol(t), df, 0 until store.nBuckets)
    }
  }

  def blocks(gen: ChainGen, n: Int): (Seq[Block], Seq[String]) = {
    val bs = Seq.fill(n)(gen.nextBlock())
    (bs, bs.map(BlockCodec.blockToJson))
  }

  def apply(ctx: Ctx, store: TableStore, json: Seq[String]): Unit =
    BlockIngest.applyBlocks(store, ctx.spark.createDataset(json)(Encoders.STRING))

  /** Committed files of an append table per range bucket, as
    * `rbkt:files` pairs: a compacted bucket holds one file. */
  def filesByRbkt(store: TableStore, table: String): String =
    store.manifest(table).groupBy(_.takeWhile(_ != '/').stripPrefix("rbkt=").toLong).toSeq.sortBy(_._1)
      .map { case (b, fs) => s"$b:${fs.size}" }.mkString(" ")

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else scala.util.Using.resource(Files.walk(p))(_.iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum)

  def parquetFiles(p: Path): Set[String] =
    if (!Files.exists(p)) Set.empty
    else scala.util.Using.resource(Files.walk(p))(_.iterator().asScala
      .filter(f => Files.isRegularFile(f) && f.toString.endsWith(".parquet")).map(_.toString).toSet)

  /** Compares all six state tables, the append-table row counts and the
    * watermark against the model. Returns the number of mismatches; the
    * first few are printed to stderr. */
  def check(store: TableStore, m: ExpectedState): Long = {
    var bad = 0L
    def miss(what: String): Unit = {
      if (bad < 10) System.err.println(s"[perfbench] CHECK FAILED: $what")
      bad += 1
    }
    def opt[T](r: org.apache.spark.sql.Row, i: Int): Option[T] = if (r.isNullAt(i)) None else Some(r.getAs[T](i))
    def compare[K, V](table: String, exp: collection.Map[K, V], key: org.apache.spark.sql.Row => K,
                      value: org.apache.spark.sql.Row => V): Unit = {
      val got = store.readState(table).collect()
      if (got.length != exp.size) miss(s"$table has ${got.length} rows, model ${exp.size}")
      got.foreach { r =>
        val k = key(r)
        exp.get(k) match {
          case None => miss(s"$table: unexpected key $k")
          case Some(v) =>
            val g = value(r)
            val same = (g, v) match {
              case (a: Array[Byte], b: Array[Byte]) => java.util.Arrays.equals(a, b)
              case _ => g == v
            }
            if (!same) miss(s"$table[$k]: got $g, model $v")
        }
      }
    }
    compare("account", m.accounts, _.getString(0), r => ExpAccount(r.getLong(1), r.getLong(2), r.getLong(3),
      r.getBoolean(4), r.getLong(5), opt[Long](r, 6), opt[String](r, 7), opt[String](r, 8)))
    compare("asset", m.assets, _.getLong(0), r =>
      ExpCreatable(r.getString(1), opt[String](r, 2), r.getBoolean(3), r.getLong(4), opt[Long](r, 5)))
    compare("app", m.apps, _.getLong(0), r =>
      ExpCreatable(r.getString(1), opt[String](r, 2), r.getBoolean(3), r.getLong(4), opt[Long](r, 5)))
    compare("account_asset", m.holdings, r => (r.getString(0), r.getLong(1)), r =>
      ExpHolding(BigInt(r.getDecimal(2).toBigInteger), r.getBoolean(3), r.getBoolean(4), r.getLong(5), opt[Long](r, 6)))
    compare("account_app", m.locals, r => (r.getString(0), r.getLong(1)), r =>
      ExpLocal(opt[String](r, 2), r.getBoolean(3), r.getLong(4), opt[Long](r, 5)))
    compare("app_box", m.boxes, r => (r.getLong(0), new String(r.getAs[Array[Byte]](1), "ISO-8859-1")),
      r => r.getAs[Array[Byte]](2))
    Seq(("txn", m.txnRows), ("txn_participation", m.participationRows), ("block_header", m.headerRows))
      .foreach { case (t, n) =>
        val got = store.read(t).count()
        if (got != n) miss(s"$t has $got rows, model $n")
      }
    if (store.nextRound != m.nextRound) miss(s"nextRound ${store.nextRound}, model ${m.nextRound}")
    bad
  }
}

/** Per-layer accumulators of the traced ingest runs: codec and transform
  * per block, state per batch, and the listener's per-batch job facts. */
final class IngestLayers(ctx: Ctx) {
  private val sums = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  private var nBlocks = 0L
  private var nBatches = 0L
  private var jsonBytes = 0L

  /** Codec and transform work of the batch's blocks, timed on the driver
    * by calling the modules' public functions one block at a time. */
  def blockWork(json: Seq[String]): Unit = ctx.tracer.span("codec+transform", s"blocks$nBatches") {
    json.foreach { j =>
      jsonBytes += j.length
      sums("codec.json_bytes_per_block") += j.length
      val t0 = System.nanoTime()
      val b = BlockCodec.blockFromJson(j)
      val t1 = System.nanoTime()
      val txns = BlockTransforms.flattenBlock(b)
      val parts = BlockTransforms.participationRows(b)
      val t2 = System.nanoTime()
      val deltas = DeltaTransforms.accountDeltaRows(b).size + DeltaTransforms.assetDeltaRows(b).size +
        DeltaTransforms.accountAssetDeltaRows(b).size + DeltaTransforms.appDeltaRows(b).size +
        DeltaTransforms.accountAppDeltaRows(b).size + DeltaTransforms.appBoxDeltaRows(b).size
      val t3 = System.nanoTime()
      sums("codec.decode_us_per_block") += (t1 - t0) / 1e3
      sums("transform.flatten_us_per_block") += (t2 - t1) / 1e3
      sums("transform.delta_us_per_block") += (t3 - t2) / 1e3
      sums("transform.txn_rows_per_block") += txns.size
      sums("transform.participation_rows_per_block") += parts.size
      sums("transform.delta_rows_per_block") += deltas
      nBlocks += 1
    }
  }

  /** Distinct state keys the batch's blocks change (DeltaTransforms'
    * delta rows); the rows the merges rewrote for them come from the
    * listener ([[batch]]). */
  def stateWork(blocks: Seq[Block]): Unit = ctx.tracer.span("state", s"state$nBatches") {
    val changed = blocks.flatMap(DeltaTransforms.accountDeltaRows).map(_.addr).distinct.size +
      blocks.flatMap(DeltaTransforms.assetDeltaRows).map(_.id).distinct.size +
      blocks.flatMap(DeltaTransforms.accountAssetDeltaRows).map(r => (r.addr, r.assetid)).distinct.size +
      blocks.flatMap(DeltaTransforms.appDeltaRows).map(_.id).distinct.size +
      blocks.flatMap(DeltaTransforms.accountAppDeltaRows).map(r => (r.addr, r.app)).distinct.size +
      blocks.flatMap(DeltaTransforms.appBoxDeltaRows).map(r => (r.app, new String(r.name, "ISO-8859-1"))).distinct.size
    sums("state.delta_keys_per_batch") += changed
  }

  def batch(f: BatchFacts): Unit = {
    nBatches += 1
    sums("ingest.jobs_per_batch") += f.jobs
    sums("ingest.stages_per_batch") += f.stages
    sums("ingest.tasks_per_batch") += f.tasks
    JobListener.Phases.foreach(p => sums(s"ingest.${p}_ms") += f.phaseMs(p))
    sums("ingest.driver_only_ms") += f.driverOnlyMs
    sums("ingest.task_cpu_ms_per_batch") += f.taskCpuMs
    sums("ingest.core_busy_frac") += f.runMs.toDouble / math.max(1L, f.wallMs * ctx.cpus)
    sums("ingest.shuffle_bytes_per_batch") += f.shuffleBytes
    sums("ingest.bytes_written_per_batch") += f.bytesWritten
    sums("ingest.bytes_written") += f.bytesWritten
    sums("state.rows_rewritten_per_batch") += f.mergeRows
  }

  def filesWritten(n: Long): Unit = sums("ingest.files_written") += n

  def emit(r: Report): Unit = {
    val perBlock = Seq("codec.", "transform.")
    sums.foreach { case (k, v) =>
      if (perBlock.exists(k.startsWith)) r.layer(k) = v / math.max(1L, nBlocks)
      else if (k.startsWith("state.") || k.startsWith("ingest.") && k != "ingest.bytes_written" &&
        k != "ingest.files_written") r.layer(k) = v / math.max(1L, nBatches)
    }
    r.layer("ingest.files_written_per_batch") = sums("ingest.files_written") / math.max(1L, nBatches)
    r.layer("ingest.write_amp") = sums("ingest.bytes_written") / math.max(1L, jsonBytes)
    val changed = sums("state.delta_keys_per_batch")
    r.layer("state.useful_ratio") = if (sums("state.rows_rewritten_per_batch") > 0)
      changed / sums("state.rows_rewritten_per_batch") else 0.0
  }
}

object StoreLayers {
  /** Storage facts of a store: committed files per append table and the
    * metadata log's size. */
  def emit(r: Report, store: TableStore): Unit = {
    IngestKit.AppendTables.foreach(t => r.layer(s"ingest.store_files.$t") = store.manifest(t).size)
    r.layer("ingest.meta_bytes") = IngestKit.dirBytes(java.nio.file.Paths.get(store.root, "_meta"))
  }
}

/** Catch-up ingest from genesis: one caller handing 100-round batches
  * straight to BlockIngest.applyBlocks, checked against the model. Run by
  * the traced ingest_follow run at local[N] and local[1] for
  * `ingest.speedup_vs_1core`; it is not a workload of its own (see
  * README.md). */
object Backfill {
  val Genesis = 100000
  val RoundsPerBatch = 100
  val WarmRounds = 20
  val Params = GenParams(txnsPerRound = 100, newAccountShare = 0.2)
  val Buckets = 16
  val RoundsPerPartition = 1000L

  /** Rounds per second over `batches` warm batches; throws if the store
    * disagrees with the model afterwards. */
  def roundsPerSec(ctx: Ctx, dir: String, batches: Int): Double = {
    val gen = new ChainGen(ctx.seed, Params)
    val store = new TableStore(ctx.spark, ctx.out.resolve(dir).toString, Buckets, RoundsPerPartition)
    IngestKit.seedStore(ctx, gen, store, Genesis, None)
    IngestKit.apply(ctx, store, IngestKit.blocks(gen, WarmRounds)._2) // JIT, codegen
    var busy = 0.0
    (0 until batches).foreach { _ =>
      val json = IngestKit.blocks(gen, RoundsPerBatch)._2
      val t0 = System.nanoTime()
      IngestKit.apply(ctx, store, json)
      busy += (System.nanoTime() - t0) / 1e9
    }
    val bad = IngestKit.check(store, gen.model)
    require(bad == 0, s"backfill store disagrees with the model in $bad places")
    batches * RoundsPerBatch / busy
  }
}

/** ingest_follow: a live follower over a large state. Per-round block
  * files are drained through StreamIngest.start, a few rounds per
  * micro-batch; keys are hot-skewed with a trickle of new accounts. */
object Follow {
  val Params = GenParams(txnsPerRound = 100, zipfS = 1.2, newAccountShare = 0.02,
    reopenShare = 0.005, closeShare = 0.005)
  val Bulk = BulkState(accounts = 30000, assets = 800, holdings = 10000, apps = 200,
    locals = 3000, boxes = 1500)
  val Buckets = 16
  /** Range bucket 0 holds rounds 0-9: the warm micro-batch and the first
    * four timed ones write five 2-file batches into it, past TableStore's
    * 8-file compaction threshold, so the fifth timed micro-batch (rounds
    * 10-11) seals and compacts it. */
  val RoundsPerPartition = 10L
  val FilesPerTrigger = 2
  val RoundsPerDrain = 6
  /** Runs measure at least this many drains, so every run times the same
    * micro-batches, the compacting one included. */
  val MinDrains = 2

  final class Setup(val gen: ChainGen, val store: TableStore, val in: Path, val ckpt: Path) {
    var fileTime = 1600000000000L
  }

  def setup(ctx: Ctx, dir: String): Setup = {
    val gen = new ChainGen(ctx.seed, Params)
    val root = ctx.out.resolve(dir)
    val store = new TableStore(ctx.spark, root.resolve("store").toString, Buckets, RoundsPerPartition)
    IngestKit.seedStore(ctx, gen, store, Bulk.accounts, Some(Bulk))
    val s = new Setup(gen, store, Files.createDirectories(root.resolve("in")), root.resolve("ckpt"))
    drain(ctx, s, FilesPerTrigger) // warm: first stream start, JIT, codegen
    s
  }

  /** New round files land, then one AvailableNow run drains them.
    * Returns (wall ms, blocks, progress of non-empty batches). */
  def drain(ctx: Ctx, s: Setup, rounds: Int)
      : (Double, Seq[Block], Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]) = {
    val (bs, json) = IngestKit.blocks(s.gen, rounds)
    bs.zip(json).foreach { case (b, j) =>
      val f = s.in.resolve(f"round-${b.round}%09d.json")
      Files.write(f, (j + "\n").getBytes("UTF-8"))
      s.fileTime += 1000
      Files.setLastModifiedTime(f, java.nio.file.attribute.FileTime.fromMillis(s.fileTime))
    }
    val t0 = System.nanoTime()
    val q = StreamIngest.start(ctx.spark, s.store, s.in.toString, s.ckpt.toString,
      maxFilesPerTrigger = FilesPerTrigger)
    q.awaitTermination()
    val ms = (System.nanoTime() - t0) / 1e6
    q.exception.foreach(e => throw e)
    (ms, bs, q.recentProgress.toSeq.filter(_.numInputRows > 0))
  }

  def run(ctx: Ctx): Unit = {
    val r = ctx.report
    val s = Main.timedSetup(ctx)(setup(ctx, "follow"))
    val layers = if (ctx.trace) Some(new IngestLayers(ctx)) else None
    val batchMs = mutable.ArrayBuffer.empty[Double]
    val trig = mutable.ArrayBuffer.empty[Double]
    val add = mutable.ArrayBuffer.empty[Double]
    val over = mutable.ArrayBuffer.empty[Double]
    var wall = 0.0; var rounds = 0L; var d = 0
    while (wall < ctx.seconds * 1000 || d < MinDrains) {
      val before = layers.map(_ => IngestKit.parquetFiles(java.nio.file.Paths.get(s.store.root)))
      val (ms, bs, progress) =
        try ctx.tracer.span("streaming.drain", s"drain$d")(drain(ctx, s, RoundsPerDrain))
        catch { case e: Throwable => r.failed += 1; throw e }
      wall += ms; rounds += bs.size; d += 1
      progress.foreach { p =>
        val t = p.durationMs.get("triggerExecution").toDouble
        val a = Option(p.durationMs.get("addBatch")).map(_.toDouble).getOrElse(0.0)
        batchMs += t; trig += t; add += a; over += t - a
      }
      for (l <- layers; jl <- ctx.jobs) {
        org.apache.spark.BenchBus.drain(ctx.spark.sparkContext)
        var rest = bs
        progress.foreach { p =>
          val lo = java.time.Instant.parse(p.timestamp).toEpochMilli
          l.batch(BatchFacts.of(jl, lo, lo + p.durationMs.get("triggerExecution").longValue))
          val (mine, tail) = rest.splitAt(p.numInputRows.toInt)
          rest = tail
          l.blockWork(mine.map(BlockCodec.blockToJson))
          l.stateWork(mine)
        }
        l.filesWritten((IngestKit.parquetFiles(java.nio.file.Paths.get(s.store.root)) -- before.get).size)
      }
    }
    r.attempted = batchMs.size
    Main.reportOps(ctx, rounds / (wall / 1000), batchMs.toSeq)
    r.num("files_per_trigger", FilesPerTrigger); r.num("rounds_per_drain", RoundsPerDrain)
    r.str("store_params", s"nBuckets=$Buckets roundsPerPartition=$RoundsPerPartition " +
      s"bulk=$Bulk txnsPerRound=${Params.txnsPerRound}")
    r.num("accounts_at_end", s.gen.model.accounts.size)
    Main.storeEnd(ctx, s.store)
    if (ctx.trace) {
      layers.foreach(_.emit(r))
      StoreLayers.emit(r, s.store)
      r.layer("streaming.trigger_ms_p50") = Stats.median(trig.toSeq)
      r.layer("streaming.add_batch_ms_p50") = Stats.median(add.toSeq)
      r.layer("streaming.overhead_ms_p50") = Stats.median(over.toSeq)
      r.layer("streaming.rounds_per_batch") = rounds.toDouble / math.max(1, batchMs.size)
    }
    val bad = IngestKit.check(s.store, s.gen.model)
    if (bad > 0) { r.checksPassed = false; r.failed = r.attempted; r.num("check_mismatches", bad) }
  }
}
