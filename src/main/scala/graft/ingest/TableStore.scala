package graft.ingest

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftbridge.LocalScan
import graft.codec.CanonicalJson
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.immutable.SortedSet
import scala.jdk.CollectionConverters._
import scala.util.Using

/** Parquet-backed store for the 9 maintained tables + JSON metastate
  * (SURVEY.md §1.4, §2.A6/A7).
  *
  * Layout under `root/`:
  *   - append tables `txn`, `txn_participation`, `block_header`:
  *     `rbkt = round DIV roundsPerPartition` range dirs with `round` as a
  *     data column, behind a file manifest committed atomically with the
  *     watermark (see the append-table section below) — the Spark
  *     replacement for the reference's tolerated COPY unique-violations
  *     (cockroach.go:189-199): a replayed batch's files simply never make
  *     it into the manifest;
  *   - state tables `account`, `account_asset`, `asset`, `app`,
  *     `account_app`, `app_box`: hash-bucketed on the primary key into
  *     `_bucket=N` partitions, so a merge reads and rewrites only the
  *     buckets the batch touches — cost tracks batch size, not table size
  *     (the 100 TB posture; an index-organized row store needs no such
  *     trick, a file-based column store does);
  *   - `_meta/`: the reference's metastate KV table (util.go:75-110) as an
  *     append-only metadata log with checkpoints ([[MetaLog]]) — the
  *     stream's checkpoint/watermark store (keys: state, accounts,
  *     network) plus the manifests and per-file indexes, committed one
  *     O(batch) record per micro-batch, a point read the executors never
  *     need.
  *
  * `readOnly = true` declares a query-only session over a directory some
  * other process writes: every mutation path throws, and reads never heal
  * crash leftovers (`_old_bkt=N` restoration moves directories — a reader
  * racing a live writer's bucket swap could otherwise collide with its
  * renames; `_`-prefixed dirs are invisible to Spark's file index anyway,
  * and the writer heals on its own open/commit path).
  *
  * The store owns its local file layer: opening one routes the session's
  * `file` scheme through [[ForkFreeLocalFs]]. Without the native
  * libhadoop, Hadoop sets the mode of every file and directory Spark
  * creates by forking a `chmod` process (~5 ms each, hundreds per
  * micro-batch); the fork-free layer sets the same bits in-process. Only
  * the `file` scheme is affected — a store on HDFS or S3 is untouched.
  *
  * Read-API scans ([[readRounds]], [[readRoundsForKey]], [[queryState]])
  * run on the driver when small: once manifest, bloom and bucket pruning
  * have picked the files, and those total no more than the session's
  * `spark.sql.autoBroadcastJoinThreshold` (Spark's own "small enough for
  * the driver" bound, 10 MB by default; a value ≤ 0 turns the local path
  * off), they are decoded in the calling thread and returned as a
  * `LocalRelation`. Filters, projections, limits and (through
  * [[graft.plans.LocalSortFold]], installed by the constructor) sorts
  * over those rows fold on the driver, so a point or range lookup
  * collects without a Spark job — the time such a request spent was
  * Spark's fixed per-job cost, not I/O. Larger file sets keep the
  * distributed scan. Ingest, compaction, pruning, [[read]] and
  * [[createViews]] always read distributed.
  */
final class TableStore(val spark: SparkSession, val root: String, val nBuckets: Int = 16,
                       val roundsPerPartition: Long = 10000L, val readOnly: Boolean = false,
                       val metaCheckpointInterval: Int = 64) {
  import TableStore._

  spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
  ForkFreeLocalFs.install(spark.sparkContext.hadoopConfiguration)
  graft.plans.LocalSortFold.install(spark)

  private def path(table: String) = s"$root/$table"

  /** Children of `dir` with the stream CLOSED on exit (a bare Files.list
    * leaks a directory fd per call — fatal over a long streaming ingest). */
  private def listDir(dir: Path): List[Path] =
    if (!Files.exists(dir)) Nil
    else Using.resource(Files.list(dir))(_.iterator().asScala.toList)

  private def deleteRecursively(dir: Path): Unit =
    if (Files.exists(dir))
      Using.resource(Files.walk(dir)) {
        _.sorted(java.util.Comparator.reverseOrder()).iterator().asScala.foreach(Files.delete)
      }

  // ── Generic read (empty frame with the right schema if absent) ──────

  def read(table: String): DataFrame = table match {
    case "txn" | "txn_participation" | "block_header" => readManifest(table, manifest(table))
    case _ =>
      if (!readOnly) recoverStateBuckets(table)
      if (listDir(Paths.get(path(table))).exists(p => !p.getFileName.toString.startsWith("_")))
        spark.read.schema(schemaWithPartitions(table)).parquet(path(table))
      else
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schemaWithPartitions(table))
  }

  // NOTE: the bucket partition column is `bkt`, NOT `_bucket` — Spark's
  // file index treats paths starting with `_`/`.` as hidden and would skip
  // the partition directories entirely.
  private def schemaWithPartitions(table: String): StructType = table match {
    case "txn" | "txn_participation" | "block_header" => Schemas(table)
    case _ => Schemas(table).add("bkt", IntegerType, nullable = true)
  }

  /** State table without the internal bucket column. */
  def readState(table: String): DataFrame = read(table).drop("bkt")

  // ── Append tables: range dirs + manifest (the 100 TB layout) ────────
  //
  // One directory PER ROUND is a non-starter at chain scale (~40M rounds =
  // 40M directories; file listing alone would dominate every query). The
  // append tables are instead laid out as `rbkt=N` range partitions
  // (N = round DIV roundsPerPartition, ~4k dirs for a full chain), `round`
  // stays a data column (parquet row-group min/max stats still prune
  // within a file), and the COMMITTED file set is an explicit manifest
  // carried in metastate:
  //
  //   - `stageAppend` writes a batch's files into the range dirs but does
  //     NOT publish them — it returns the file list;
  //   - `BlockIngest` folds the lists of all three append tables into the
  //     SINGLE metastate write that also bumps the watermark, so data,
  //     manifest, and watermark commit atomically (a crash mid-batch
  //     leaves orphan files that readers never see and `vacuum` removes);
  //   - `readRounds` prunes the manifest driver-side by the round range
  //     before Spark ever lists a file.
  //
  // This is a poor-man's transactional table format (Delta/Iceberg-style
  // manifest-as-log) built on nothing but parquet + one atomic rename.

  /** Write the batch's rows for an append table into its `rbkt=N` range
    * dirs WITHOUT publishing them. Returns the relative paths to fold into
    * the manifest commit. `df` must carry the table's full schema
    * including `round`. */
  def stageAppend(table: String, df: DataFrame): Seq[String] = {
    requireWritable("stageAppend")
    val staging = s"${path(table)}/_staging_${java.util.UUID.randomUUID().toString.take(8)}"
    df.withColumn("rbkt", (col("round") / lit(roundsPerPartition)).cast("long"))
      .write.mode("overwrite").partitionBy("rbkt").parquet(staging)
    val sdir = Paths.get(staging)
    val moved = Using.resource(Files.walk(sdir)) {
      _.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
        .map { p =>
          val rel = s"${p.getParent.getFileName}/${p.getFileName}" // rbkt=N/part-…
          val dest = Paths.get(s"${path(table)}/$rel")
          Files.createDirectories(dest.getParent)
          Files.move(p, dest, StandardCopyOption.ATOMIC_MOVE)
          rel
        }.toList
    }
    deleteRecursively(sdir)
    moved
  }

  /** The committed file set of an append table (relative paths). */
  def manifest(table: String): Seq[String] =
    metastate.get(manifestKey(table)).map(_.split('\n').toSeq.filter(_.nonEmpty)).getOrElse(Nil)

  def manifestKey(table: String): String = s"manifest.$table"

  /** Read an explicit (relative-path) file subset of an append table —
    * the surface index-aware rewrites use to keep a view's snapshot while
    * shrinking its file list. */
  def readFiles(table: String, files: Seq[String]): DataFrame =
    readManifest(table, files)

  private def readManifest(table: String, files: Seq[String]): DataFrame =
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Schemas(table))
    else
      spark.read.schema(Schemas(table)).parquet(files.map(f => s"${path(table)}/$f"): _*)

  /** A read-API scan of committed files: on the driver when they total no
    * more than [[LocalScan.threshold]], else distributed. */
  private def scanManifest(table: String, files: Seq[String]): DataFrame =
    scanLocal(table, files.map(f => Paths.get(s"${path(table)}/$f")))
      .getOrElse(readManifest(table, files))

  /** The files decoded on the driver, or None when the local path is off
    * or they are too large for it. */
  private def scanLocal(table: String, files: Seq[Path]): Option[DataFrame] = {
    val limit = LocalScan.threshold(spark)
    if (limit <= 0) return None
    val sized = files.map(p => (p.toString, Files.size(p)))
    if (sized.map(_._2).sum > limit) None
    else Some(localReaders.computeIfAbsent(table, t => new LocalScan.Reader(spark, Schemas(t))).frame(sized))
  }

  private val localReaders = new java.util.concurrent.ConcurrentHashMap[String, LocalScan.Reader]()

  /** Range bucket of a file path (`rbkt=N/part-….parquet` → N). */
  private def rbktOf(rel: String): Long =
    rel.takeWhile(_ != '/').stripPrefix("rbkt=").toLong

  /** Committed files whose round range can intersect [lo, hi]: first the
    * range-bucket bound (10k-round granularity), then the per-file
    * min/max stats (batch granularity — a micro-batch's file covers only
    * its own rounds, so a point lookup lists one batch's files, not the
    * whole bucket). Files without stats (pre-index data) pass. With
    * `rounds`, a file must also cover at least one of those rounds (by
    * its stats, or by its range bucket when it has none). */
  private[ingest] def rangeFiles(table: String, lo: Option[Long], hi: Option[Long],
                                 rounds: Option[SortedSet[Long]] = None): Seq[String] = {
    val stats = fileRoundStatsRaw(table)
    manifest(table).filter { f =>
      val b = rbktOf(f)
      val bLo = b * roundsPerPartition
      val (fLo, fHi) = stats.getOrElse(f, (bLo, bLo + roundsPerPartition - 1))
      lo.forall(_ <= fHi) && hi.forall(_ >= fLo) &&
        rounds.forall(_.minAfter(fLo).exists(_ <= fHi))
    }
  }

  /** Raw committed per-file round stats: rel path → (min, max). Cached
    * per metadata-log version (parsed once per commit, not per query). */
  def fileRoundStatsRaw(table: String): Map[String, (Long, Long)] = {
    val key = TableStore.roundStatsKey(table)
    val (version, state) = metaLog.snapshot()
    parsedCache.compute(key, (_, prev) =>
      if (prev != null && prev._1 == version) prev
      else (version, parseIndexLines(state.get(key)).map { case (k, v) =>
        val parts = v.split(':')
        k -> (parts(0).toLong, parts(1).toLong)
      })
    )._2.asInstanceOf[Map[String, (Long, Long)]]
  }

  /** Append-table read pruned to [lo, hi] (inclusive, either side open)
    * and, with `rounds`, to files covering one of those rounds: the
    * manifest is filtered driver-side, so no file outside the range is
    * listed. Callers still apply the exact `round` predicate — parquet
    * row-group stats prune within the surviving files. Small file sets
    * are read on the driver (class doc). */
  def readRounds(table: String, lo: Option[Long], hi: Option[Long],
                 rounds: Option[SortedSet[Long]] = None): DataFrame =
    scanManifest(table, rangeFiles(table, lo, hi, rounds))

  // ── Per-file key-bloom index (see FileBloom) ────────────────────────
  //
  // One bloom per committed data file per indexed column
  // (TableStore.IndexedColumns), committed in the same metastate record as
  // the manifest — point lookups on random keys (txid, addr) list only
  // bloom-candidate files.
  //
  // Metadata scale: manifests and index maps are newline-joined
  // `file TAB value` lines, so a batch's commit APPENDS its own files'
  // lines to the log ([[MetaLog]] `app` op) — O(batch) per commit, flat
  // in history; readers materialize from checkpoint + tail once per log
  // version and hit the in-driver cache after that. Decoded blooms are
  // cached per log version too (decoding is O(files × bloomSize) —
  // per-query would dominate a point lookup's driver time).

  /** Raw committed bloom map for (table, keyCol): rel path → encoded. */
  def fileBloomRaw(table: String, keyCol: String): Map[String, String] =
    parseIndexLines(metastate.get(TableStore.bloomKey(table, keyCol)))

  /** Decoded blooms for (table, keyCol), cached per metadata-log version
    * — repeated point lookups against an unchanged store decode nothing. */
  def fileBloomDecoded(table: String, keyCol: String): Map[String, FileBloom.Bloom] = {
    val key = TableStore.bloomKey(table, keyCol)
    val (version, state) = metaLog.snapshot()
    parsedCache.compute(key, (_, prev) =>
      if (prev != null && prev._1 == version) prev
      else (version,
        parseIndexLines(state.get(key)).map { case (f, enc) => f -> FileBloom.decode(enc) })
    )._2.asInstanceOf[Map[String, FileBloom.Bloom]]
  }

  private def parseIndexLines(s: Option[String]): Map[String, String] =
    s.map(_.linesIterator.filter(_.nonEmpty).map { line =>
      val i = line.indexOf('\t')
      line.substring(0, i) -> line.substring(i + 1)
    }.toMap).getOrElse(Map.empty)

  def renderIndexLines(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"$k\t$v" }.mkString("\n")

  /** Per-file index entries for the given files — round min/max stats
    * plus one bloom per indexed column, computed in ONE job per table
    * that reads only `round` and the indexed columns. collect_set skips
    * nulls, so a file with no non-null key (e.g. all-inner-txn files for
    * txid) gets an empty bloom: provably key-free, always pruned.
    *
    * Fail-OPEN on the unexpected: a staged file absent from the
    * aggregation result gets NO index entry (readers treat index-less
    * files conservatively, like pre-index data) — never an always-prune
    * empty bloom, which would silently drop rows if the rel path ever
    * re-derived differently (URL-encoding, layout change). A derived path
    * outside the staged set is a hard error for the same reason. The only
    * legitimate absence is a zero-row file, which Spark's partitioned
    * writer does not produce. */
  private def buildFileIndex(table: String, files: Seq[String])
      : (Map[String, String], Map[String, Map[String, String]]) = {
    if (files.isEmpty) return (Map.empty, Map.empty)
    val keyCols = TableStore.IndexedColumns.getOrElse(table, Nil)
    // collect_SET: dedupes per file executor-side, so the driver receives
    // distinct keys only and blooms are sized by cardinality, not row
    // count (a hot addr repeated 100k times costs 10 bits, not 1 Mb).
    val aggs = Seq(min(col("round")).as("_lo"), max(col("round")).as("_hi")) ++
      keyCols.map(c => collect_set(col(c).cast("string")).as(s"_k_$c"))
    val byRel = spark.read.schema(Schemas(table))
      .parquet(files.map(f => s"${path(table)}/$f"): _*)
      .groupBy(input_file_name().as("f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .map(r => (r.getString(0).split('/').takeRight(2).mkString("/"), r))
    val unexpected = byRel.map(_._1).filterNot(files.toSet)
    require(unexpected.isEmpty,
      s"file index derived paths outside the staged set for $table: " +
        s"${unexpected.take(3).mkString(", ")} — rel-path derivation and " +
        "staging layout disagree; indexing these would mis-key the blooms")
    val stats = byRel.map { case (rel, r) => rel -> s"${r.getLong(1)}:${r.getLong(2)}" }.toMap
    val blooms = keyCols.zipWithIndex.map { case (c, i) =>
      c -> byRel.map { case (rel, r) =>
        rel -> FileBloom.build(r.getSeq[String](3 + i)).encode
      }.toMap
    }.toMap
    (stats, blooms)
  }

  private def encodeStats(m: Map[String, (Long, Long)]): Map[String, String] =
    m.map { case (k, (lo, hi)) => k -> s"$lo:$hi" }

  /** APPEND kvs ([[MetaLog]] `app` op) carrying ONLY the batch's staged
    * files' index lines (round stats + every indexed column's blooms) —
    * O(batch) commit payload, folded into the batch's single commit
    * record so index and manifest can never disagree. */
  def indexAppendKvs(table: String, files: Seq[String]): Seq[(String, String)] = {
    if (files.isEmpty) return Nil
    val (stats, blooms) = buildFileIndex(table, files)
    (TableStore.roundStatsKey(table) -> renderIndexLines(stats)) +:
      blooms.toSeq.map { case (keyCol, entries) =>
        TableStore.bloomKey(table, keyCol) -> renderIndexLines(entries)
      }
  }

  /** Manifest files that might contain `key` within the round range:
    * bloom-negative files are pruned driver-side; files with no bloom
    * entry (pre-index data) are conservatively kept. */
  def bloomCandidateFiles(table: String, keyCol: String, key: String,
      lo: Option[Long] = None, hi: Option[Long] = None,
      rounds: Option[SortedSet[Long]] = None): Seq[String] = {
    val blooms = fileBloomDecoded(table, keyCol)
    rangeFiles(table, lo, hi, rounds).filter { f =>
      blooms.get(f).forall(_.mightContain(key))
    }
  }

  /** Point read for a key lookup: only bloom-candidate files are listed.
    * Callers still apply the exact predicate (bloom false positives and
    * row selection). Small file sets are read on the driver (class doc). */
  def readRoundsForKey(table: String, keyCol: String, key: String,
      lo: Option[Long], hi: Option[Long],
      rounds: Option[SortedSet[Long]] = None): DataFrame =
    scanManifest(table, bloomCandidateFiles(table, keyCol, key, lo, hi, rounds))

  // txid-specific surface (kept for the optimizer rule and callers)
  def txidBloomRaw: Map[String, String] = fileBloomRaw("txn", "txid")
  def txidCandidateFiles(txid: String, lo: Option[Long] = None, hi: Option[Long] = None): Seq[String] =
    bloomCandidateFiles("txn", "txid", txid, lo, hi)

  /** Post-rewrite index maintenance: drop entries for files that left
    * the manifest, rebuild entries for rewritten files. These are full
    * SET kvs — maintenance ops (prune/compact) rewrite whole file sets,
    * so O(table files) is their inherent cost, unlike per-batch commits. */
  private def bloomMaintenanceKvs(table: String, newManifest: Seq[String],
      rewritten: Seq[String]): Seq[(String, String)] = {
    val keep = newManifest.toSet
    val (stats, blooms) = buildFileIndex(table, rewritten)
    val statsKept = encodeStats(fileRoundStatsRaw(table)).filter { case (f, _) => keep(f) }
    (TableStore.roundStatsKey(table) -> renderIndexLines(statsKept ++ stats)) +:
      TableStore.IndexedColumns.getOrElse(table, Nil).map { keyCol =>
        val kept = fileBloomRaw(table, keyCol).filter { case (f, _) => keep(f) }
        TableStore.bloomKey(table, keyCol) ->
          renderIndexLines(kept ++ blooms.getOrElse(keyCol, Map.empty))
      }
  }

  /** Prune rows with round < keep: whole range buckets below the boundary
    * drop out of the manifest unread; the boundary bucket's files are
    * rewritten (read → filter → stage → swap into the manifest). Publishes
    * the new manifest immediately (maintenance op, not part of a batch). */
  def pruneRounds(table: String, keep: Long): Unit = {
    val boundary = keep / roundsPerPartition
    val (below, above) = manifest(table).partition(f => rbktOf(f) < boundary)
    val (atBoundary, clear) = above.partition(f => rbktOf(f) == boundary)
    val rewritten =
      if (atBoundary.isEmpty) Nil
      else stageAppend(table, readManifest(table, atBoundary).filter(col("round") >= keep))
    val _ = below
    val newManifest = clear ++ rewritten
    putMetastate((manifestKey(table) -> newManifest.mkString("\n")) +:
      bloomMaintenanceKvs(table, newManifest, rewritten): _*)
    vacuum(table)
  }

  /** Compact an append table's range buckets: every bucket whose committed
    * file count exceeds `maxFilesPerBucket` is rewritten as one file-set
    * (read → stage → manifest swap → vacuum). Micro-batch ingest adds one
    * file-set per batch per bucket, so steady-state streaming needs this
    * periodically — the manifest makes it a metadata swap, invisible to
    * concurrent readers resolving the old manifest. Returns the number of
    * buckets compacted. */
  def compact(table: String, maxFilesPerBucket: Int = 8): Int =
    compactWhere(table, maxFilesPerBucket, _ => true, vacuumAfter = true)

  /** Compaction cadence for the ingest loop: compact only SEALED range
    * buckets — those entirely below `activeRbkt` (the bucket the next
    * round lands in), which ingest will never append to again. Each
    * bucket is therefore rewritten AT MOST ONCE over its lifetime (2×
    * total write amplification), unlike compacting the active bucket,
    * which would re-rewrite an ever-growing file set every few batches
    * (quadratic in batches-per-bucket). Steady state: sealed buckets
    * hold ≤ a handful of files each, the active bucket at most
    * rounds-per-bucket / rounds-per-batch — the manifest's file count is
    * bounded, flat in chain length per bucket. The check is a
    * driver-side scan of the cached manifest: a no-op batch costs no IO
    * and no Spark job. */
  def compactSealed(table: String, activeRbkt: Long, maxFilesPerBucket: Int = 8): Int =
    // vacuumAfter = false: this runs INSIDE the ingest loop, where a
    // concurrent reader may still be scanning a pre-compaction snapshot
    // (a createViews view, a long query) — the manifest swap retires the
    // old files logically, and the PHYSICAL delete waits for the
    // explicit `vacuum` maintenance call (the Delta/Iceberg
    // logical-now-physical-later retention contract).
    compactWhere(table, maxFilesPerBucket, _ < activeRbkt, vacuumAfter = false)

  private def compactWhere(table: String, maxFilesPerBucket: Int,
                           eligible: Long => Boolean, vacuumAfter: Boolean): Int = {
    val byBucket = manifest(table).groupBy(rbktOf)
    val oversized = byBucket.filter { case (b, fs) =>
      eligible(b) && fs.size > maxFilesPerBucket
    }
    if (oversized.isEmpty) return 0
    val keepAsIs = byBucket.view.filterKeys(b => !oversized.contains(b)).values.flatten.toSeq
    val rewritten = stageAppend(table,
      readManifest(table, oversized.values.flatten.toSeq)
        .repartition(oversized.size, (col("round") / lit(roundsPerPartition)).cast("long")))
    val newManifest = keepAsIs ++ rewritten
    putMetastate((manifestKey(table) -> newManifest.mkString("\n")) +:
      bloomMaintenanceKvs(table, newManifest, rewritten): _*)
    if (vacuumAfter) vacuum(table)
    oversized.size
  }

  /** Remove data files not in the committed manifest (crash leftovers,
    * pruned-away files). Readers resolve files through the manifest, never
    * by listing — so the only hazard is a reader still executing against a
    * manifest older than current (its files may vanish mid-scan). Run
    * between batches / in maintenance windows; a production deployment
    * would add time-based retention (the Delta/Iceberg VACUUM contract). */
  def vacuum(table: String): Unit = {
    val keep = manifest(table).toSet
    listDir(Paths.get(path(table)))
      .filter(p => p.getFileName.toString.startsWith("rbkt="))
      .foreach { bdir =>
        listDir(bdir)
          .filter(p => !keep.contains(s"${bdir.getFileName}/${p.getFileName}"))
          .foreach(Files.delete)
        if (listDir(bdir).isEmpty) Files.delete(bdir)
      }
  }

  // ── State tables (bucketed merge target) ────────────────────────────

  def bucketOf(keyCol: String): org.apache.spark.sql.Column =
    pmod(xxhash64(col(keyCol)), lit(nBuckets)).cast(IntegerType)

  /** Read only the given buckets of a state table (partition-pruned scan). */
  def readStateBuckets(table: String, buckets: Seq[Int]): DataFrame = {
    val df = read(table)
    if (buckets.isEmpty) df.filter(lit(false)).drop("bkt")
    else df.filter(col("bkt").isin(buckets: _*)).drop("bkt")
  }

  /** Driver-side twin of [[bucketOf]] ([[TableStore.bucketOfValue]]):
    * lets a point lookup read ONE `bkt=N` partition instead of scanning
    * all of them — at 100 TB / 4096 buckets the canonical
    * account-by-address query touches 1/4096 of the table. */
  def bucketOfValue(key: Any): Int = TableStore.bucketOfValue(key, nBuckets)

  /** Point-lookup read: just the single bucket `key` hashes to. The caller
    * still applies the exact-key filter; the bucket only bounds the scan. */
  def readStateKeyed(table: String, key: Any): DataFrame = queryState(table, Some(key))

  /** A read-API query's state rows, without the bucket column: the bucket
    * `key` hashes to when the query carries an exact key on the table's
    * bucketing column (the Spark analogue of the reference's primary-key
    * probe), or the whole table when `key` is None. Read on the
    * driver when the bucket's files are small (class doc), else the
    * partition-pruned distributed scan. The local read keeps [[read]]'s
    * contract: crash-left swaps are healed first unless `readOnly`, and
    * the files are listed and decoded under the table's swap lock, so a
    * reader in this JVM never sees a half-swapped `bkt=N`. */
  def queryState(table: String, key: Option[Any]): DataFrame = {
    if (!readOnly) recoverStateBuckets(table)
    val bucket = key.map(bucketOfValue)
    val local = swapLock(table).synchronized {
      val dirs = bucket match {
        case Some(b) => Seq(Paths.get(s"${path(table)}/bkt=$b"))
        case None => listDir(Paths.get(path(table))).filter(_.getFileName.toString.startsWith("bkt="))
      }
      scanLocal(table, dirs.flatMap(listDir).filter { p =>
        val name = p.getFileName.toString
        name.endsWith(".parquet") && !name.startsWith(".") && !name.startsWith("_")
      }.sorted)
    }
    local.getOrElse(bucket.fold(readState(table))(b => readStateBuckets(table, Seq(b))))
  }

  /** Replace the given buckets with the merged content: stage-then-swap.
    *
    * The merge plan READS the buckets it replaces, so the output is first
    * written to a staging directory (one Spark job — the old files stay
    * untouched while the job reads them), then each touched `bkt=N` dir is
    * swapped in with filesystem renames. This both severs the
    * read-own-write hazard without a localCheckpoint materialization job
    * and clears buckets whose merge result is empty (dynamic partition
    * overwrite could not — an emptied bucket would silently survive).
    * The `_staging` prefix keeps Spark's file index blind to in-flight
    * output. Production analogue: a transactional table format's
    * write-to-staging + metadata swap.
    *
    * The swap is RENAME-FIRST so no crash window loses pre-merge rows:
    * `bkt=N` → `_old_bkt=N` (atomic), staged dir in (atomic), then delete
    * `_old_bkt=N`. A crash between the two renames leaves the pre-merge
    * rows intact under `_old_bkt=N`; [[recoverStateBuckets]] (run on every
    * state read and before every swap) moves them back. Either recovered
    * face is safe to replay against: the watermark hasn't advanced, and
    * the delta merge is idempotent. The old delete-then-move order
    * destroyed the bucket first — a crash before the move orphaned every
    * untouched key in it, silently, because replay re-merged against an
    * empty bucket. `_`-prefixed names stay hidden from Spark's file index.
    */
  def writeStateBuckets(table: String, keyCol: String, merged: DataFrame, touched: Seq[Int]): Unit = {
    requireWritable("writeStateBuckets")
    recoverStateBuckets(table, sweepStaging = true)
    val staging = s"${path(table)}/_staging_${java.util.UUID.randomUUID().toString.take(8)}"
    merged
      .withColumn("bkt", bucketOf(keyCol))
      .write
      .mode("overwrite")
      .partitionBy("bkt")
      .parquet(staging)
    swapLock(table).synchronized {
      touched.foreach { b =>
        val dir = Paths.get(s"${path(table)}/bkt=$b")
        val old = Paths.get(s"${path(table)}/_old_bkt=$b")
        if (Files.exists(dir)) Files.move(dir, old, StandardCopyOption.ATOMIC_MOVE)
        val src = Paths.get(s"$staging/bkt=$b")
        if (Files.exists(src)) Files.move(src, dir, StandardCopyOption.ATOMIC_MOVE)
        deleteRecursively(old)
      }
    }
    // remove staging leftovers (_SUCCESS, empty dir)
    deleteRecursively(Paths.get(staging))
  }

  /** Heal interrupted bucket swaps: a leftover `_old_bkt=N` whose live
    * `bkt=N` is missing means the crash hit between the two renames —
    * restore it; one whose live dir exists means the swap completed —
    * drop it. Stale `_staging_*` dirs are left alone here — they are
    * invisible to readers and may belong to an in-flight writer; the next
    * writeStateBuckets on the table sweeps them. */
  private[ingest] def recoverStateBuckets(table: String, sweepStaging: Boolean = false): Unit =
    swapLock(table).synchronized {
      listDir(Paths.get(path(table))).foreach { p =>
        val name = p.getFileName.toString
        if (name.startsWith("_old_bkt=")) {
          val live = Paths.get(s"${path(table)}/${name.stripPrefix("_old_")}")
          if (Files.exists(live)) deleteRecursively(p)
          else Files.move(p, live, StandardCopyOption.ATOMIC_MOVE)
        } else if (sweepStaging && name.startsWith("_staging_")) deleteRecursively(p)
      }
    }

  // Swap and recovery serialize per (root, table): without this, a
  // concurrent reader's heal pass could restore `_old_bkt=N` in the
  // instant between a writer's two renames and collide with the incoming
  // move. The lock map is JVM-GLOBAL (TableStore companion), keyed by
  // root+table, so two store instances over the same directory — the
  // "point a query session at the same database" mode — still serialize.
  // A separate reader PROCESS is outside the monitor by nature; the
  // single-writer deployment contract covers it, and a crashed writer's
  // window is healed by the on-disk `_old_bkt` protocol on next open.
  private def swapLock(table: String): Object =
    // normalized key: "/data/db" and "/data/db/" must map to ONE monitor
    TableStore.swapLocks.computeIfAbsent(
      s"${Paths.get(root).toAbsolutePath.normalize}/$table", _ => new Object)

  /** Register every maintained table as a temp view (plus the graft UDFs),
    * so the whole surface is queryable from `spark.sql` — the "point the
    * indexer API at the same database" usage mode of the reference. */
  def createViews(prefix: String = ""): Unit = {
    TableStore.Schemas.keys.foreach { t =>
      val df = if (t == "txn" || t == "txn_participation" || t == "block_header") read(t) else readState(t)
      df.createOrReplaceTempView(prefix + t)
    }
    graft.functions.GraftFunctions.register(spark)
    graft.expressions.VectorExpressions.register(spark)
    graft.plans.TxidIndexPruneRule.install(spark, this)
  }

  /** Snapshot views for SQL users: the append tables as of `version`,
    * registered as `<prefix><table>` (e.g. prefix "v123_" → `v123_txn`)
    * — the SQL face of [[readAsOf]], same retention/vacuum contract.
    * State tables keep no per-version file sets, so only the append
    * tables get a view. */
  def createViewsAsOf(version: Long, prefix: String): Unit = {
    require(prefix.nonEmpty, "snapshot views need a distinguishing prefix")
    Seq("txn", "txn_participation", "block_header").foreach { t =>
      readAsOf(t, version).createOrReplaceTempView(prefix + t)
    }
  }

  // ── Metastate (KV) ─────────────────────────────────────────────────
  //
  // Backed by the append-only metadata log ([[MetaLog]]): a commit
  // appends one O(batch) record; readers materialize checkpoint + tail
  // once per log version into the in-driver cache. A pre-log
  // `metastate.json` is honored as the base state (read-only migration).

  private val metaLog = new MetaLog(root, metaCheckpointInterval)

  // version-keyed cache of parsed index structures (decoded blooms,
  // round stats): re-parsed once per commit, not once per query
  private val parsedCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Any)]()

  def metastate: Map[String, String] = metaLog.state()

  /** Current metadata-log version (advances by 1 per commit) — the cache
    * key index-aware rules use to avoid re-decoding an unchanged index. */
  def metaVersion: Long = metaLog.version

  /** The metastate AS OF a past commit ([[MetaLog.stateAt]]) — bounded by
    * checkpoint retention; throws past the horizon instead of guessing. */
  def metastateAt(version: Long): Map[String, String] = metaLog.stateAt(version)

  /** An append table's committed file set as of `version`. */
  def manifestAt(table: String, version: Long): Seq[String] =
    metastateAt(version).get(manifestKey(table))
      .map(_.split('\n').toSeq.filter(_.nonEmpty)).getOrElse(Nil)

  /** Snapshot (time-travel) read of an append table: exactly the rows
    * committed as of metadata-log `version` — what a reproducible corpus
    * build pins so retraining months later reads byte-identical data.
    * Valid until an explicit `vacuum`/`compact(vacuumAfter)` physically
    * removes files the old manifest references (`compactSealed` only
    * REPLACES files logically, so snapshots survive the in-loop
    * compaction cadence). Append tables only: state tables are LWW-merged
    * in place and keep no per-version file sets. */
  def readAsOf(table: String, version: Long): DataFrame = {
    require(Schemas.contains(table) && isAppendTable(table),
      s"readAsOf supports append (manifest-backed) tables, not '$table'")
    readManifest(table, manifestAt(table, version))
  }

  /** Row-level diff between two pinned snapshot versions of an append
    * table — the time-travel audit ("what changed between yesterday's
    * corpus and today's"): rows only in `v2` tagged `added`, rows only
    * in `v1` tagged `removed` (prune/delete rewrites shrink a manifest,
    * so both directions are real). Multiset semantics via `exceptAll` —
    * a duplicate row appearing once more IS a change — computed as one
    * aggregate-shaped set difference per direction, no collect. */
  def diffAsOf(table: String, v1: Long, v2: Long): DataFrame = {
    val a = readAsOf(table, v1)
    val b = readAsOf(table, v2)
    b.exceptAll(a).withColumn("_op", org.apache.spark.sql.functions.lit("added"))
      .unionByName(a.exceptAll(b).withColumn("_op", org.apache.spark.sql.functions.lit("removed")))
  }

  private def isAppendTable(table: String): Boolean =
    table == "txn" || table == "txn_participation" || table == "block_header"

  def putMetastate(kvs: (String, String)*): Unit = {
    requireWritable("putMetastate")
    metaLog.append(sets = kvs)
  }

  /** One commit record: `sets` replace keys (watermark, accounts…),
    * `appends` add newline-joined lines (manifests, index entries). The
    * micro-batch's single atomic commit point. */
  def commitMetastate(sets: Seq[(String, String)],
                      appends: Seq[(String, String)]): Unit = {
    requireWritable("commitMetastate")
    metaLog.append(sets, appends)
  }

  private def requireWritable(op: String): Unit =
    if (readOnly) throw new IllegalStateException(
      s"$op on a readOnly TableStore ($root) — this session declared itself query-only")

  /** NextRoundToAccount (metastate `state` key; types.go:7-9). */
  def nextRound: Long =
    metastate.get(MetaNextRound).map(_.toLong).getOrElse(0L)

  /** GetNextRoundToLoad (dummy/dummy.go:41-42): the next round whose
    * transactions need loading = max committed txn round + 1, 0 for an
    * empty table. Pure metadata at any scale: the per-file round stats
    * committed with the manifest answer it driver-side — no scan. Only
    * files predating the stats index (none in practice) fall back to one
    * bounded aggregate over exactly those files. */
  def nextRoundToLoad: Long = {
    val files = manifest("txn")
    if (files.isEmpty) return 0L
    val stats = fileRoundStatsRaw("txn")
    val (withStats, without) = files.partition(stats.contains)
    val hiStats = withStats.foldLeft(-1L)((m, f) => math.max(m, stats(f)._2))
    val hiScan =
      if (without.isEmpty) -1L
      else {
        val r = readManifest("txn", without)
          .agg(org.apache.spark.sql.functions.max("round")).head
        if (r.isNullAt(0)) -1L else r.getLong(0)
      }
    math.max(hiStats, hiScan) + 1L
  }

  def setNextRound(r: Long): Unit = putMetastate(MetaNextRound -> r.toString)
}

object TableStore {
  val MetaNextRound = "next_account_round"
  val MetaSpecialAccounts = "accounts"
  val MetaNetwork = "network"
  val MetaMigration = "migration"

  /** Append-table columns carrying a per-file bloom index: keys whose
    * point lookups parquet min/max stats cannot prune — uniformly random
    * (txid, addr) or long-tailed (asset: a hot asset passes every bloom
    * and loses nothing; the long tail of rarely-touched assets prunes to
    * the few files that mention them). */
  val IndexedColumns: Map[String, Seq[String]] = Map(
    "txn" -> Seq("txid", "asset"),
    "txn_participation" -> Seq("addr"))

  def bloomKey(table: String, keyCol: String): String = s"bloom.$keyCol.$table"

  def roundStatsKey(table: String): String = s"roundstats.$table"

  /** The bucket an exact key value lands in, computed by evaluating the
    * same catalyst XxHash64 over a literal — bit-identical to the
    * executor-side `pmod(xxhash64(col), nBuckets)` of the store's `bucketOf`
    * by construction (asserted in BucketPruneSpec). Plain code, so
    * executors call it too (ingest's pre-pass buckets delta keys). */
  def bucketOfValue(key: Any, nBuckets: Int): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    // Literal types must match the column types xxhash64 sees (LongType
    // ids, StringType addrs): an Int key would hash on the 4-byte path.
    val l = key match {
      case i: Int => Literal(i.toLong)
      case other => Literal(other)
    }
    val h = new XxHash64(Seq(l)).eval(null).asInstanceOf[Long]
    (((h % nBuckets) + nBuckets) % nBuckets).toInt
  }

  private[ingest] val swapLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Authoritative table schemas (setup_cockroachdb_sql.go:5-133 →
    * SURVEY.md §1.3 type mapping). */
  val Schemas: Map[String, StructType] = Map(
    "block_header" -> StructType(Seq(
      StructField("realtime", TimestampType),
      StructField("rewardslevel", LongType, nullable = false),
      StructField("header", StringType),
      StructField("round", LongType, nullable = false))),
    "txn" -> StructType(Seq(
      StructField("intra", IntegerType, nullable = false),
      StructField("typeenum", ShortType, nullable = false),
      StructField("asset", LongType, nullable = false),
      StructField("txid", StringType, nullable = true), // NULL for inner txns
      StructField("txn", StringType),
      StructField("extra", StringType),
      StructField("round", LongType, nullable = false))),
    "txn_participation" -> StructType(Seq(
      StructField("addr", StringType, nullable = false),
      StructField("intra", IntegerType, nullable = false),
      StructField("round", LongType, nullable = false))),
    "account" -> StructType(Seq(
      StructField("addr", StringType, nullable = false),
      StructField("microalgos", LongType, nullable = false),
      StructField("rewardsbase", LongType, nullable = false),
      StructField("rewards_total", LongType, nullable = false),
      StructField("deleted", BooleanType, nullable = false),
      StructField("created_at", LongType, nullable = false),
      StructField("closed_at", LongType, nullable = true),
      StructField("keytype", StringType, nullable = true),
      StructField("account_data", StringType, nullable = true))),
    "account_asset" -> StructType(Seq(
      StructField("addr", StringType, nullable = false),
      StructField("assetid", LongType, nullable = false),
      StructField("amount", DecimalType(20, 0), nullable = false),
      StructField("frozen", BooleanType, nullable = false),
      StructField("deleted", BooleanType, nullable = false),
      StructField("created_at", LongType, nullable = false),
      StructField("closed_at", LongType, nullable = true))),
    "asset" -> StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("creator_addr", StringType, nullable = false),
      StructField("params", StringType, nullable = true),
      StructField("deleted", BooleanType, nullable = false),
      StructField("created_at", LongType, nullable = false),
      StructField("closed_at", LongType, nullable = true))),
    "app" -> StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("creator", StringType, nullable = false),
      StructField("params", StringType, nullable = true),
      StructField("deleted", BooleanType, nullable = false),
      StructField("created_at", LongType, nullable = false),
      StructField("closed_at", LongType, nullable = true))),
    "account_app" -> StructType(Seq(
      StructField("addr", StringType, nullable = false),
      StructField("app", LongType, nullable = false),
      StructField("localstate", StringType, nullable = true),
      StructField("deleted", BooleanType, nullable = false),
      StructField("created_at", LongType, nullable = false),
      StructField("closed_at", LongType, nullable = true))),
    "app_box" -> StructType(Seq(
      StructField("app", LongType, nullable = false),
      StructField("name", BinaryType, nullable = false),
      StructField("value", BinaryType, nullable = false))))
}
