package graft.ingest

import graft.codec.{BlockCodec, CanonicalJson}
import graft.model._
import graft.state.StateMerge
import graft.transform.{BlockTransforms, DeltaTransforms}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import scala.concurrent.{ExecutionContext, Future}
import scala.reflect.ClassTag
import scala.reflect.runtime.universe.TypeTag

/** Batch apply of a micro-batch of blocks (SURVEY.md §3.1's Spark
  * equivalent): ordering guard against metastate, staged append of
  * txn/participation/header by round range, six staged state merges, and
  * one [[TableStore.commit]] that publishes all of them with the watermark
  * in one metadata-log record. Structured Streaming wraps this in
  * foreachBatch (graft.streaming.StreamIngest); the reference's
  * serializable transaction + tolerated unique violations
  * (cockroach.go:136-199) become staged files + that single driver-side
  * commit point.
  *
  * Input is one JSON document per block (graft.codec.BlockCodec), parsed in
  * the executors — the recursive inner-txn tree never needs a Spark schema.
  */
object BlockIngest {

  /** Strict-ordering guard (cockroach.go:142-146): rounds already accounted
    * are dropped (idempotent replay); the remainder must start at
    * `nextRound` and be gap-free. Returns the rounds to apply. */
  def orderingGuard(rounds: Seq[Long], nextRound: Long): Seq[Long] = {
    val relevant = rounds.filter(_ >= nextRound)
    require(relevant.distinct.length == relevant.length,
      s"duplicate rounds in batch: ${relevant.diff(relevant.distinct).distinct.sorted.take(5).mkString(",")}")
    val fresh = relevant.distinct.sorted
    if (fresh.isEmpty) return fresh
    require(fresh.head == nextRound,
      s"adding block round ${fresh.head} but next round to account is $nextRound")
    fresh.zipWithIndex.foreach { case (r, i) =>
      require(r == nextRound + i, s"round gap: expected ${nextRound + i}, got $r")
    }
    fresh
  }

  /** One state table's merge: its delta rows per block, the bucketing key
    * of a delta row, and the merge semantics (presence-gated keytype
    * column, hard delete). */
  private final case class MergeDef(
      table: String, keys: Seq[String], payload: Seq[String],
      deltas: (SparkSession, RDD[Block]) => DataFrame,
      keyValues: Block => Seq[Any],
      ktCol: Option[(String, String)] = None, hard: Boolean = false)

  private def mergeDef[T <: Product : TypeTag : ClassTag](
      table: String, keys: Seq[String], payload: Seq[String],
      rows: Block => Seq[T], key: T => Any,
      ktCol: Option[(String, String)] = None, hard: Boolean = false): MergeDef =
    MergeDef(table, keys, payload,
      (spark, blocks) => spark.createDataset(blocks.flatMap(rows))(Encoders.product[T]).toDF(),
      b => rows(b).map(key), ktCol, hard)

  private val mergeDefs: Seq[MergeDef] = Seq(
    mergeDef("account", Seq("addr"),
      Seq("microalgos", "rewardsbase", "rewards_total", "account_data"),
      DeltaTransforms.accountDeltaRows, (r: AccountDeltaRow) => r.addr,
      ktCol = Some(("ktPresent", "keytype"))),
    mergeDef("asset", Seq("id"), Seq("creator_addr", "params"),
      DeltaTransforms.assetDeltaRows, (r: AssetDeltaRow) => r.id),
    mergeDef("account_asset", Seq("addr", "assetid"), Seq("amount", "frozen"),
      DeltaTransforms.accountAssetDeltaRows, (r: AccountAssetDeltaRow) => r.addr),
    mergeDef("app", Seq("id"), Seq("creator", "params"),
      DeltaTransforms.appDeltaRows, (r: AppDeltaRow) => r.id),
    mergeDef("account_app", Seq("addr", "app"), Seq("localstate"),
      DeltaTransforms.accountAppDeltaRows, (r: AccountAppDeltaRow) => r.addr),
    mergeDef("app_box", Seq("app", "name"), Seq("value"),
      DeltaTransforms.appBoxDeltaRows, (r: AppBoxDeltaRow) => r.app, hard = true))

  def applyBlocks(store: TableStore, blocksJson: Dataset[String]): Unit = {
    val spark = store.spark
    import spark.implicits._

    // Parse each block's JSON exactly ONCE, into deserialized JVM objects
    // pinned in executor memory (spill-serialized under pressure). Every
    // downstream job — 3 appends, 6 merges — flatMaps over these objects
    // instead of re-parsing the JSON, so the parse cost is paid once per
    // block regardless of how many tables the batch fans out to. This is
    // the one deliberate RDD in the engine: Dataset caching would
    // re-deserialize (or re-parse) per use; an RDD MEMORY(_AND_DISK) cache
    // holds the live objects.
    val all: RDD[Block] = blocksJson.rdd
      .map(BlockCodec.blockFromJson)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val next = store.nextRound
      // One pre-pass job collects everything the driver needs (and
      // materializes the cache): rounds for the ordering guard, the
      // special-accounts doc of the newest block, and every merge's
      // touched (table, bucket) set — from the same delta rows the merge
      // reads, so only blocks the merge will apply (round >= next) count.
      // Tables absent from the set have no deltas this batch and are
      // skipped entirely.
      val nBuckets = store.nBuckets
      val keyValues = mergeDefs.map(d => d.table -> d.keyValues)
      val prepass = all.map { b =>
        val touched =
          if (b.round < next) Nil
          else keyValues.flatMap { case (t, keysOf) =>
            keysOf(b).map(k => t -> TableStore.bucketOfValue(k, nBuckets)).distinct
          }
        (b.round, BlockTransforms.specialAccountsJson(b), touched)
      }.collect().toSeq
      val fresh = orderingGuard(prepass.map(_._1), next)
      if (fresh.isEmpty) return
      val lastRound = fresh.last
      val specialAccounts = prepass.collectFirst { case (r, s, _) if r == lastRound => s }.get
      val touchedAll: Map[String, Seq[Int]] =
        prepass.flatMap(_._3).distinct.groupMap(_._1)(_._2)

      // Narrow re-read of the cache; partition count sized to the batch so
      // small micro-batches don't schedule defaultParallelism mostly-empty
      // tasks in every one of the ~10 downstream jobs. Only ever shrinks —
      // a large backfill batch keeps the source's full parallelism.
      val k = math.max(1, math.min(fresh.size, all.getNumPartitions))
      val blocks = all.filter(_.round >= next).coalesce(k)
      def deltaDf[T <: Product : org.apache.spark.sql.Encoder : ClassTag](
          f: Block => Seq[T]): DataFrame =
        spark.createDataset(blocks.flatMap(f)).toDF()

      // The reference runs the txn/participation COPY concurrently with the
      // state-upsert batch (cockroach.go:167-199). Same here: each append
      // and each merge targets a distinct table directory, so they are
      // independent Spark jobs — run them from a thread pool and let the
      // scheduler interleave stages. The commit below stays the single
      // serial commit point.
      implicit val ec: ExecutionContext = TableStore.ingestPool

      // Every write STAGES its files (invisible to readers): appends
      // report their file lists, merges each touched bucket's new files.
      val appendWrites: Seq[Future[(String, Seq[String])]] = Seq(
        Future("txn" -> store.stageAppend("txn", conform(deltaDf(BlockTransforms.flattenBlock), "txn"))),
        Future("txn_participation" -> store.stageAppend("txn_participation",
          conform(deltaDf(BlockTransforms.participationRows), "txn_participation"))),
        Future("block_header" -> store.stageAppend("block_header",
          conform(deltaDf(b => Seq(BlockTransforms.headerRow(b))), "block_header"))))
      val mergeWrites: Seq[Future[(String, Map[Int, Seq[String]])]] = mergeDefs.flatMap { d =>
        touchedAll.get(d.table).map(touched =>
          Future(d.table -> merge(store, d, d.deltas(spark, blocks), touched)))
      }
      val (appendDone, mergeDone) = (TableStore.settle(appendWrites), TableStore.settle(mergeWrites))
      val staged = appendDone.map(_.get)
      val merged = mergeDone.map(_.get)

      // B7 + watermark bump + publication of all nine tables — ONE commit
      // is the single commit point of the micro-batch: a failure before it
      // leaves only orphan files readers never resolve, and every table as
      // it was. It builds the staged files' per-file indexes (one job per
      // table, concurrently), appends O(batch) to the metadata log, and
      // sweeps the touched buckets' retired files.
      store.commit(staged = staged, buckets = merged, sets = Seq(
        TableStore.MetaSpecialAccounts -> specialAccounts,
        TableStore.MetaNextRound -> (lastRound + 1).toString))

      // Compaction cadence: once a range bucket is SEALED (the watermark
      // moved past it), fold its per-batch file-sets into one — at most
      // one rewrite per bucket ever, so the manifest's file count stays
      // bounded while ingest runs forever. Driver-side manifest scan;
      // a no-op on every batch that doesn't seal a bucket.
      val activeRbkt = (lastRound + 1) / store.roundsPerPartition
      staged.foreach { case (t, _) => store.compactSealed(t, activeRbkt) }
    } finally all.unpersist()
  }

  /** EnsureInitialImport (helpers.go:11-48): first run seeds genesis;
    * restarts verify the network/genesis guard instead of reseeding; a
    * different network is a hard error. */
  def ensureInitialImport(
      store: TableStore,
      allocations: Seq[(String, Long, String)],
      network: String): Unit =
    store.metastate.get(TableStore.MetaNetwork) match {
      case None => initGenesis(store, allocations, network)
      case Some(existing) if existing == network => // already initialized
      case Some(existing) =>
        throw new IllegalStateException(
          s"genesis hash not matching the database: db=$existing, init=$network")
    }

  /** A2: genesis loader (cockroach.go:213-280) — seed `account` (one row
    * per allocation, created_at = 0), record network, import state = 0,
    * all in one commit. */
  def initGenesis(
      store: TableStore,
      allocations: Seq[(String, Long, String)], // (addr, microalgos, accountDataJson)
      network: String): Unit = {
    val spark = store.spark
    import spark.implicits._
    val rows = allocations.map { case (addr, algos, data) =>
      AccountRow(addr, algos, 0, 0, deleted = false, created_at = 0,
        closed_at = None, keytype = None, account_data = Some(data))
    }
    val accounts = store.writeStateBucketsStaged("account", "addr",
      conform(rows.toDF(), "account"), 0 until store.nBuckets)
    // Seed migration state alongside network, as the reference does at
    // genesis (cockroach.go:226-232): next = MaxInt ⇒ no migration needed.
    store.commit(buckets = Seq("account" -> accounts), sets = Seq(
      TableStore.MetaNetwork -> network,
      TableStore.MetaMigration -> CanonicalJson.render(
        CanonicalJson.JObj.of("next" -> CanonicalJson.JInt(Long.MaxValue))),
      TableStore.MetaNextRound -> "0"))
  }

  // ── helpers ─────────────────────────────────────────────────────────

  /** Cast to the authoritative table schema (case classes encode e.g.
    * BigDecimal as Decimal(38,18), the table stores Decimal(20,0)). */
  private[ingest] def conform(df: DataFrame, table: String): DataFrame = {
    val schema = TableStore.Schemas(table)
    df.select(schema.fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
  }

  // Read the touched buckets, merge (one keyed aggregate), stage the
  // result under new file names — the files read stay untouched, which
  // severs the read-own-write hazard without a materialization job.
  // Returns each touched bucket's new files for the batch's commit.
  private def merge(store: TableStore, d: MergeDef, deltas: DataFrame,
                    touched: Seq[Int]): Map[Int, Seq[String]] = {
    val state = store.readStateBuckets(d.table, touched)
    val merged =
      if (d.hard) StateMerge.mergeHardDelete(state, deltas, d.keys, d.payload)
      else StateMerge.mergeSoftDelete(state, deltas, d.keys, d.payload, d.ktCol)
    store.writeStateBucketsStaged(d.table, d.keys.head, conform(merged, d.table), touched)
  }
}
