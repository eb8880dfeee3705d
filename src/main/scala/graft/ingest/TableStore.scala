package graft.ingest

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftbridge.LocalScan
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.immutable.SortedSet
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.Using

/** Parquet-backed store for the 9 maintained tables + JSON metastate
  * (SURVEY.md §1.4, §2.A6/A7).
  *
  * Layout under `root/`:
  *   - append tables ([[TableStore.AppendTables]]: `txn`,
  *     `txn_participation`, `block_header`): `rbkt = round DIV
  *     roundsPerPartition` range dirs with `round` as a data column;
  *   - state tables `account`, `account_asset`, `asset`, `app`,
  *     `account_app`, `app_box`: hash-bucketed on the primary key into
  *     `bkt=N` dirs, so a merge reads and rewrites only the buckets the
  *     batch touches — cost tracks batch size, not table size (the 100 TB
  *     posture; an index-organized row store needs no such trick, a
  *     file-based column store does);
  *   - `_meta/`: the reference's metastate KV table (util.go:75-110) as an
  *     append-only metadata log with checkpoints ([[MetaLog]]) — the
  *     stream's checkpoint/watermark store (keys: state, accounts,
  *     network) plus the manifests and per-file indexes, committed one
  *     O(batch) record per micro-batch, a point read the executors never
  *     need.
  *
  * One commit point for all nine tables: every table is read through a
  * file manifest in the metastate, never by listing a directory. A
  * mutation stages its files (invisible until listed), then [[commit]] —
  * the one method that writes the metadata log — publishes the append
  * files with their index lines, the touched state buckets' new file
  * lists and the watermark in ONE record, and sweeps the files it
  * retired — the Spark analogue of the reference committing a block's txn
  * COPY and state upserts in one serializable transaction
  * (cockroach.go:136-199). A crash or failure before that record leaves
  * only unlisted files: readers never see them and the replayed batch
  * re-merges against the unchanged state.
  *
  * `nBuckets` and `roundsPerPartition` fix where a key or a round lives,
  * so the first commit records them (metastate `layout`) and opening the
  * store with other values throws `IllegalArgumentException`.
  *
  * `readOnly = true` declares a query-only session over a directory some
  * other process writes: every mutation path throws. Reads never write,
  * so a reader leaves a writer's uncommitted files where they are.
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

  ForkFreeLocalFs.install(spark.sparkContext.hadoopConfiguration)
  graft.plans.LocalSortFold.install(spark)

  // The metastate KV: the append-only metadata log ([[MetaLog]]). A commit
  // appends one O(batch) record; readers materialize checkpoint + tail
  // once per log version into the in-driver cache.
  private val metaLog = new MetaLog(root, metaCheckpointInterval)

  // version-keyed cache of parsed index structures (decoded blooms,
  // round stats): re-parsed once per commit, not once per query
  private val parsedCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Any)]()

  private val layout = s"nBuckets=$nBuckets roundsPerPartition=$roundsPerPartition"
  metastate.get(MetaLayout).filter(_ != layout).foreach { stored =>
    throw new IllegalArgumentException(s"store $root was created with $stored, opened with $layout: " +
      "bucket and range-bucket lookups would miss its committed rows")
  }

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

  /** Every committed row of a table. */
  def read(table: String): DataFrame = readFiles(table, manifest(table))

  /** A state table's committed rows (the same as [[read]]). */
  def readState(table: String): DataFrame = read(table)

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
  //   - `commit` publishes the lists of all three append tables in the
  //     SINGLE metastate record that also bumps the watermark, so data,
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
    stage(table, df.withColumn("rbkt", (col("round") / lit(roundsPerPartition)).cast("long")), "rbkt")
  }

  /** Write `df` partitioned by `partCol` to a `_staging_*` dir (invisible
    * to Spark's file index), then move its part files into the table's
    * `<partCol>=N/` dirs under their unique names. Nothing is published:
    * returns the relative paths (`<partCol>=N/part-…`) for a commit to
    * list. */
  private def stage(table: String, df: DataFrame, partCol: String): Seq[String] = {
    val staging = s"${path(table)}/_staging_${java.util.UUID.randomUUID().toString.take(8)}"
    df.write.mode("overwrite").partitionBy(partCol).parquet(staging)
    val sdir = Paths.get(staging)
    val moved = Using.resource(Files.walk(sdir)) {
      _.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
        .map { p =>
          val rel = s"${p.getParent.getFileName}/${p.getFileName}" // <partCol>=N/part-…
          val dest = Paths.get(s"${path(table)}/$rel")
          Files.createDirectories(dest.getParent)
          Files.move(p, dest, StandardCopyOption.ATOMIC_MOVE)
          rel
        }.toList
    }
    deleteRecursively(sdir)
    moved
  }

  /** The committed file set of a table (relative paths): an append
    * table's manifest, or the union of a state table's bucket manifests. */
  def manifest(table: String): Seq[String] = {
    val st = metastate
    if (AppendTables(table)) fileLines(st.get(manifestKey(table)))
    else (0 until nBuckets).flatMap(b => fileLines(st.get(bucketManifestKey(table, b))))
  }

  private def manifestKey(table: String): String = s"manifest.$table"

  /** Metastate key of one state bucket's committed file list. */
  private def bucketManifestKey(table: String, bucket: Int): String = s"manifest.$table.bkt=$bucket"

  private def fileLines(v: Option[String]): Seq[String] =
    v.map(_.split('\n').toSeq.filter(_.nonEmpty)).getOrElse(Nil)

  /** A distributed scan of an explicit (relative-path) file set — also
    * the surface index-aware rewrites use to keep a view's snapshot while
    * shrinking its file list. The statuses come from one local stat per
    * file and seed the file index, so Spark lists nothing: past 32 paths
    * (`spark.sql.sources.parallelPartitionDiscovery.threshold`) its own
    * listing would run as a Spark job. Columns are nullable, as
    * `spark.read.parquet` makes them. */
  def readFiles(table: String, files: Seq[String]): DataFrame =
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Schemas(table))
    else {
      val fs = new HPath(path(table)).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val statuses = files.map { f =>
        val p = Paths.get(s"${path(table)}/$f")
        new FileStatus(Files.size(p), false, 1, 32L << 20, Files.getLastModifiedTime(p).toMillis,
          fs.makeQualified(new HPath(p.toString)))
      }
      val known = statuses.map(s => s.getPath -> Array(s)).toMap
      val schema = StructType(Schemas(table).fields.map(_.copy(nullable = true)))
      val index = new InMemoryFileIndex(spark, statuses.map(_.getPath), Map.empty,
        Some(schema), new FileStatusCache {
          override def getLeafFiles(p: HPath): Option[Array[FileStatus]] = known.get(p)
          override def putLeafFiles(p: HPath, leaves: Array[FileStatus]): Unit = ()
          override def invalidateAll(): Unit = ()
        })
      spark.baseRelationToDataFrame(HadoopFsRelation(index, new StructType(),
        schema, None, new ParquetFileFormat, Map.empty)(spark))
    }

  /** A read-API scan of committed files: on the driver when they total no
    * more than [[LocalScan.threshold]], else distributed. */
  private def scanManifest(table: String, files: Seq[String]): DataFrame =
    scanLocal(table, files.map(f => Paths.get(s"${path(table)}/$f")))
      .getOrElse(readFiles(table, files))

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

  private def renderIndexLines(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"$k\t$v" }.mkString("\n")

  /** Per-file index entries for the given files, by metastate key
    * ([[TableStore.roundStatsKey]], [[TableStore.bloomKey]]) — round
    * min/max stats plus one bloom per indexed column, computed in ONE job
    * per table that reads only `round` and the indexed columns. collect_set skips
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
  private def buildFileIndex(table: String, files: Seq[String]): Map[String, Map[String, String]] = {
    if (files.isEmpty) return Map.empty
    val keyCols = TableStore.IndexedColumns.getOrElse(table, Nil)
    // collect_SET: dedupes per file executor-side, so the driver receives
    // distinct keys only and blooms are sized by cardinality, not row
    // count (a hot addr repeated 100k times costs 10 bits, not 1 Mb).
    val aggs = Seq(min(col("round")).as("_lo"), max(col("round")).as("_hi")) ++
      keyCols.map(c => collect_set(col(c).cast("string")).as(s"_k_$c"))
    val byRel = readFiles(table, files)
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
    ((roundStatsKey(table) -> stats) +: keyCols.zipWithIndex.map { case (c, i) =>
      bloomKey(table, c) -> byRel.map { case (rel, r) =>
        rel -> FileBloom.build(r.getSeq[String](3 + i)).encode
      }.toMap
    }).toMap
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

  /** Prune rows with round < keep: whole range buckets below the boundary
    * drop out of the manifest unread; the boundary bucket's files are
    * rewritten (read → filter → stage → swap into the manifest). Publishes
    * the new manifest immediately, in one record with `sets` (maintenance
    * op, not part of a batch), then vacuums the table. */
  def pruneRounds(table: String, keep: Long, sets: Seq[(String, String)] = Nil): Unit = {
    val boundary = keep / roundsPerPartition
    val dropped = manifest(table).filter(f => rbktOf(f) <= boundary)
    val atBoundary = dropped.filter(f => rbktOf(f) == boundary)
    val rewritten =
      if (atBoundary.isEmpty) Nil
      else stageAppend(table, readFiles(table, atBoundary).filter(col("round") >= keep))
    commit(staged = Seq(table -> rewritten), retired = Map(table -> dropped), sets = sets)
    vacuum(table)
  }

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
    * and no Spark job. `activeRbkt = Long.MaxValue` compacts every
    * oversized bucket.
    *
    * No vacuum: this runs INSIDE the ingest loop, where a concurrent
    * reader may still be scanning a pre-compaction snapshot (a
    * createViews view, a long query) — the manifest swap retires the old
    * files logically, and the PHYSICAL delete waits for the explicit
    * [[vacuum]] maintenance call (the Delta/Iceberg
    * logical-now-physical-later retention contract). */
  def compactSealed(table: String, activeRbkt: Long, maxFilesPerBucket: Int = 8): Int =
    compactWhere(table, activeRbkt, maxFilesPerBucket)

  // Its own method so call-site phase attribution (as in perfbench's job
  // listener) bills the rewrite and its index build to compaction.
  private def compactWhere(table: String, activeRbkt: Long, maxFilesPerBucket: Int): Int = {
    val oversized = manifest(table).groupBy(rbktOf).filter { case (b, fs) =>
      b < activeRbkt && fs.size > maxFilesPerBucket
    }
    if (oversized.isEmpty) return 0
    val old = oversized.values.flatten.toSeq
    val rewritten = stageAppend(table,
      readFiles(table, old).repartition(oversized.size, (col("round") / lit(roundsPerPartition)).cast("long")))
    commit(staged = Seq(table -> rewritten), retired = Map(table -> old))
    oversized.size
  }

  /** Remove data files not in the committed manifest (crash leftovers,
    * pruned-away or retired files) from every `rbkt=`/`bkt=` dir, and
    * crash-left `_staging_*` dirs. Readers resolve files through the
    * manifest, never by listing — so the only hazard is a reader still
    * executing against a manifest older than current (its files may vanish
    * mid-scan), or a write of this table in flight. Run between batches /
    * in maintenance windows; a production deployment would add time-based
    * retention (the Delta/Iceberg VACUUM contract). */
  def vacuum(table: String): Unit = {
    requireWritable("vacuum")
    val children = listDir(Paths.get(path(table)))
    def named(prefixes: String*) =
      children.filter(p => prefixes.exists(p.getFileName.toString.startsWith))
    named("_staging_").foreach(deleteRecursively)
    sweep(named("rbkt=", "bkt="), manifest(table).toSet)
  }

  /** Delete the files in `dirs` (partition dirs of one table) that `keep`
    * (committed relative paths) does not list, then the dirs left empty. */
  private def sweep(dirs: Seq[Path], keep: Set[String]): Unit =
    dirs.foreach { bdir =>
      listDir(bdir)
        .filter(p => !keep.contains(s"${bdir.getFileName}/${p.getFileName}"))
        .foreach(Files.delete)
      if (listDir(bdir).isEmpty) Files.deleteIfExists(bdir)
    }

  // ── State tables (bucketed merge target) ────────────────────────────

  def bucketOf(keyCol: String): org.apache.spark.sql.Column =
    pmod(xxhash64(col(keyCol)), lit(nBuckets)).cast(IntegerType)

  /** A state table's committed files in the given buckets. */
  private def bucketFiles(table: String, buckets: Seq[Int]): Seq[String] = {
    val st = metastate
    buckets.flatMap(b => fileLines(st.get(bucketManifestKey(table, b))))
  }

  /** Read only the given buckets of a state table (their manifests'
    * files, nothing else listed). */
  def readStateBuckets(table: String, buckets: Seq[Int]): DataFrame =
    readFiles(table, bucketFiles(table, buckets))

  /** Driver-side twin of [[bucketOf]] ([[TableStore.bucketOfValue]]):
    * lets a point lookup read ONE bucket's files instead of scanning all
    * of them — at 100 TB / 4096 buckets the canonical account-by-address
    * query touches 1/4096 of the table. */
  def bucketOfValue(key: Any): Int = TableStore.bucketOfValue(key, nBuckets)

  /** A read-API query's state rows: the bucket `key` hashes to when the
    * query carries an exact key on the table's bucketing column (the
    * Spark analogue of the reference's primary-key probe), or the whole
    * table when `key` is None. Read on the driver when the files are
    * small (class doc), else distributed. */
  def queryState(table: String, key: Option[Any]): DataFrame =
    scanManifest(table, key.fold(manifest(table))(k => bucketFiles(table, Seq(bucketOfValue(k)))))

  /** Replace the given buckets of a state table with `merged` (rows
    * bucketed by `keyCol`) as one commit of its own. Rows of buckets
    * outside `touched` are dropped; a touched bucket `merged` has no rows
    * for is emptied. For the bulk loads (a seeded state); a batch's merges
    * and genesis go through [[writeStateBucketsStaged]] and commit with
    * the rest of their record. */
  def writeStateBuckets(table: String, keyCol: String, merged: DataFrame, touched: Seq[Int]): Unit =
    commit(buckets = Seq(table -> writeStateBucketsStaged(table, keyCol, merged, touched)))

  /** Stage `merged` as the new content of the `touched` buckets WITHOUT
    * publishing it. The merge plan reads the files it replaces, so new
    * files go under new names and the old ones stay untouched until the
    * commit retires them. Returns each touched bucket's new files (none
    * when the bucket emptied), for [[commit]]'s `buckets`. (The name
    * keeps the `writeStateBuckets` prefix: call-site phase attribution,
    * as in perfbench's job listener, counts this job as a merge.) */
  private[ingest] def writeStateBucketsStaged(table: String, keyCol: String, merged: DataFrame,
                                              touched: Seq[Int]): Map[Int, Seq[String]] = {
    requireWritable("writeStateBuckets")
    val byBucket = stage(table, merged.withColumn("bkt", bucketOf(keyCol)), "bkt")
      .groupBy(_.takeWhile(_ != '/').stripPrefix("bkt=").toInt)
    (byBucket -- touched).values.flatten.foreach(f => Files.delete(Paths.get(s"${path(table)}/$f")))
    touched.map(b => b -> byBucket.getOrElse(b, Nil)).toMap
  }

  /** After a commit: delete every file in the given buckets' dirs that
    * their committed manifests do not list — the files the commit retired
    * and any crash orphans. The writer's own cleanup; a store has a
    * single writer. */
  private def sweepStateBuckets(table: String, buckets: Seq[Int]): Unit =
    sweep(buckets.map(b => Paths.get(s"${path(table)}/bkt=$b")), bucketFiles(table, buckets).toSet)

  /** Register every maintained table as a temp view (plus the graft UDFs),
    * so the whole surface is queryable from `spark.sql` — the "point the
    * indexer API at the same database" usage mode of the reference. */
  def createViews(prefix: String = ""): Unit = {
    TableStore.Schemas.keys.foreach(t => read(t).createOrReplaceTempView(prefix + t))
    graft.functions.GraftFunctions.register(spark)
    graft.expressions.VectorExpressions.register(spark)
    graft.plans.TxidIndexPruneRule.install(spark, this)
  }

  /** Snapshot views for SQL users: the append tables as of `version`,
    * registered as `<prefix><table>` (e.g. prefix "v123_" → `v123_txn`)
    * — the SQL face of [[readAsOf]], same retention/vacuum contract.
    * Only the append tables get a view ([[readAsOf]]). */
  def createViewsAsOf(version: Long, prefix: String): Unit = {
    require(prefix.nonEmpty, "snapshot views need a distinguishing prefix")
    AppendTables.foreach { t =>
      readAsOf(t, version).createOrReplaceTempView(prefix + t)
    }
  }

  // ── Metastate (KV) ─────────────────────────────────────────────────

  def metastate: Map[String, String] = metaLog.state()

  /** Current metadata-log version (advances by 1 per commit) — the cache
    * key index-aware rules use to avoid re-decoding an unchanged index. */
  def metaVersion: Long = metaLog.version

  /** The metastate AS OF a past commit ([[MetaLog.stateAt]]) — bounded by
    * checkpoint retention; throws past the horizon instead of guessing. */
  def metastateAt(version: Long): Map[String, String] = metaLog.stateAt(version)

  /** An append table's committed file set as of `version`. */
  def manifestAt(table: String, version: Long): Seq[String] =
    fileLines(metastateAt(version).get(manifestKey(table)))

  /** Snapshot (time-travel) read of an append table: exactly the rows
    * committed as of metadata-log `version` — what a reproducible corpus
    * build pins so retraining months later reads byte-identical data.
    * Valid until an explicit `vacuum` (or `pruneRounds`) physically
    * removes files the old manifest references (`compactSealed` only
    * REPLACES files logically, so snapshots survive the in-loop
    * compaction cadence). Append tables only: a state commit's sweep
    * deletes the files it retires, so an old state manifest's files are
    * gone as soon as a newer batch rewrites its buckets. */
  def readAsOf(table: String, version: Long): DataFrame = {
    require(AppendTables(table),
      s"readAsOf supports append (manifest-backed) tables, not '$table'")
    readFiles(table, manifestAt(table, version))
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

  /** The store's one publication point: appends ONE metadata-log record,
    * then sweeps the state buckets it rewrote. Every mutation goes
    * through it.
    *
    *   - `staged`: per append table, files from [[stageAppend]]. Their
    *     manifest and index lines (round stats, blooms: one index-build
    *     job per table, the tables concurrently on the ingest pool) are
    *     appended — O(batch), flat in history;
    *   - `retired`: per table of `staged`, committed files the record
    *     drops (prune, compaction). Such a table's manifest and index are
    *     set in full — O(table files), a maintenance op's inherent cost;
    *   - `buckets`: per state table, each touched bucket's new files from
    *     [[writeStateBucketsStaged]]; every listed bucket's file list is
    *     set, and after the record its dir is swept of the files the
    *     record retired and of crash orphans;
    *   - `sets` replace scalar keys (watermark, accounts…), `appends` add
    *     raw lines to a newline-joined key.
    *
    * The first record also sets `layout` (class doc). A failure before
    * the record leaves only unlisted files. */
  def commit(staged: Seq[(String, Seq[String])] = Nil,
             retired: Map[String, Seq[String]] = Map.empty,
             buckets: Seq[(String, Map[Int, Seq[String]])] = Nil,
             sets: Seq[(String, String)] = Nil,
             appends: Seq[(String, String)] = Nil): Unit = {
    requireWritable("commit")
    val indexed = staged.filter { case (t, files) => files.nonEmpty || retired.contains(t) }
    // One table (a maintenance op) builds in the calling thread, so its
    // job keeps the caller's call site (a compaction's index build stays
    // billed to `compactWhere`).
    val indexes = indexed match {
      case Seq((t, files)) => Seq(buildFileIndex(t, files))
      case _ =>
        implicit val ec: ExecutionContext = ingestPool
        settle(indexed.map { case (t, files) => Future(buildFileIndex(t, files)) }).map(_.get)
    }
    val st = metastate
    val (tableApps, tableSets) = indexed.zip(indexes).partitionMap { case ((t, files), index) =>
      retired.get(t) match {
        case None => Left((manifestKey(t) -> files.mkString("\n")) +:
          index.toSeq.map { case (k, m) => k -> renderIndexLines(m) })
        case Some(gone) =>
          val now = manifest(t).filterNot(gone.toSet) ++ files
          val keep = now.toSet
          Right((manifestKey(t) -> now.mkString("\n")) +:
            (roundStatsKey(t) +: IndexedColumns.getOrElse(t, Nil).map(bloomKey(t, _))).map { k =>
              k -> renderIndexLines(
                parseIndexLines(st.get(k)).filter(e => keep(e._1)) ++ index.getOrElse(k, Map.empty))
            })
      }
    }
    val bucketSets = buckets.flatMap { case (t, bs) =>
      bs.toSeq.map { case (b, files) => bucketManifestKey(t, b) -> files.mkString("\n") }
    }
    val layoutSet = if (st.contains(MetaLayout)) Nil else Seq(MetaLayout -> layout)
    metaLog.append(tableSets.flatten ++ bucketSets ++ layoutSet ++ sets, tableApps.flatten ++ appends)
    buckets.foreach { case (t, bs) => sweepStateBuckets(t, bs.keys.toSeq) }
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
        val r = readFiles("txn", without)
          .agg(org.apache.spark.sql.functions.max("round")).head
        if (r.isNullAt(0)) -1L else r.getLong(0)
      }
    math.max(hiStats, hiScan) + 1L
  }
}

object TableStore {
  val MetaNextRound = "next_account_round"
  val MetaSpecialAccounts = "accounts"
  val MetaNetwork = "network"
  val MetaMigration = "migration"
  val MetaLayout = "layout"

  /** Pool for intra-batch write and index-build parallelism (9
    * independent table writes). Bounded and shared: one pool regardless
    * of how many stores exist. */
  private[ingest] lazy val ingestPool: ExecutionContext =
    ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(9, r => {
        val t = new Thread(r, "graft-ingest")
        t.setDaemon(true)
        t
      }))

  /** Every future's outcome, after ALL of them finished: a failed batch
    * rethrows only once no sibling write is still running, so a retry of
    * the batch cannot race its own stale writes. */
  private[ingest] def settle[T](fs: Seq[Future[T]]): Seq[scala.util.Try[T]] =
    fs.map(f => Await.ready(f, Duration.Inf).value.get)

  /** The tables rows are only appended to (range-bucketed by round,
    * snapshot-readable); every other table in [[Schemas]] is a keyed
    * state table. */
  val AppendTables: Set[String] = Set("txn", "txn_participation", "block_header")

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
