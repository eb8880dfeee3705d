package graft.ingest

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Append tables: range-bucket layout + manifest commit. Readers resolve
  * files ONLY through the committed manifest — staged-but-uncommitted
  * files are invisible (crash atomicity), range buckets prune reads, and
  * pruning rewrites only the boundary bucket. */
class ManifestSpec extends SparkSpec {

  private def headerDf(rounds: Seq[Long]): DataFrame = {
    import spark.implicits._
    rounds.map(r => (new java.sql.Timestamp(1700000000000L + r * 1000), r, s"{}", r))
      .toDF("realtime", "rewardslevel", "header", "round")
  }

  test("staged files are invisible until the manifest commit; vacuum removes orphans") {
    val store = new TableStore(spark, tmpDir("graft-man"), nBuckets = 2, roundsPerPartition = 4L)
    val files = store.stageAppend("block_header", headerDf(Seq(0L, 1L)))
    assert(files.nonEmpty)
    assert(store.read("block_header").count() == 0, "uncommitted files must be invisible")

    store.commit(staged = Seq("block_header" -> files))
    assert(store.read("block_header").count() == 2)

    // a second staged-but-never-committed batch (crash): still invisible,
    // and vacuum physically removes it without touching committed data
    val orphans = store.stageAppend("block_header", headerDf(Seq(2L, 3L)))
    assert(orphans.nonEmpty)
    assert(store.read("block_header").count() == 2)
    store.vacuum("block_header")
    orphans.foreach { f =>
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"${store.root}/block_header/$f")))
    }
    assert(store.read("block_header").count() == 2)
  }

  test("readRounds prunes to intersecting range buckets and matches a full-scan filter") {
    val store = new TableStore(spark, tmpDir("graft-man-rr"), nBuckets = 2, roundsPerPartition = 4L)
    val files = store.stageAppend("block_header", headerDf(0L until 12L))
    store.commit(staged = Seq("block_header" -> files))
    assert(files.map(_.takeWhile(_ != '/')).distinct.sorted ==
      Seq("rbkt=0", "rbkt=1", "rbkt=2"), "12 rounds / 4 per bucket = 3 buckets")

    // The pruned file list, not the frame's inputFiles: a driver-local read
    // is a LocalRelation with none, and forall over nothing proves nothing.
    def prunedTo(lo: Option[Long], hi: Option[Long], bucket: String): Unit = {
      val files = store.rangeFiles("block_header", lo, hi)
      assert(files.nonEmpty && files.forall(_.startsWith(s"$bucket/")), s"$lo..$hi: $files")
    }
    // bucket 1 ([4,7]) is the only intersecting bucket
    prunedTo(Some(5L), Some(6L), "rbkt=1")
    val got = store.readRounds("block_header", Some(5L), Some(6L)).filter(col("round").between(5, 6))
      .select("round").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == Seq(5L, 6L))
    // open-ended bounds
    prunedTo(Some(8L), None, "rbkt=2")
    prunedTo(None, Some(3L), "rbkt=0")
    assert(store.readRounds("block_header", None, None).count() == 12)
  }

  test("compact folds oversized buckets into one file-set without changing data") {
    val store = new TableStore(spark, tmpDir("graft-man-cp"), nBuckets = 2, roundsPerPartition = 4L)
    // 8 one-round commits -> buckets 0 and 1, four file-sets each
    (0L until 8L).foreach { r =>
      store.commit(staged = Seq("block_header" -> store.stageAppend("block_header", headerDf(Seq(r)))))
    }
    val before = store.manifest("block_header")
    assert(before.count(_.startsWith("rbkt=0/")) >= 4)

    val n = store.compactSealed("block_header", activeRbkt = Long.MaxValue, maxFilesPerBucket = 2)
    assert(n == 2, "both buckets exceed the threshold")
    store.vacuum("block_header")
    val after = store.manifest("block_header")
    assert(after.count(_.startsWith("rbkt=0/")) < before.count(_.startsWith("rbkt=0/")))
    assert(store.read("block_header").select("round").collect().map(_.getLong(0)).sorted.toSeq
      == (0L until 8L).toSeq)
    // old files physically vacuumed
    before.foreach { f =>
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"${store.root}/block_header/$f")))
    }
    // idempotent: nothing left to compact
    assert(store.compactSealed("block_header", activeRbkt = Long.MaxValue, maxFilesPerBucket = 2) == 0)
  }

  test("compactSealed rewrites only buckets below the active one") {
    val store = new TableStore(spark, tmpDir("graft-man-cs"), nBuckets = 2, roundsPerPartition = 4L)
    (0L until 8L).foreach { r =>
      store.commit(staged = Seq("block_header" -> store.stageAppend("block_header", headerDf(Seq(r)))))
    }
    val before = store.manifest("block_header")
    assert(before.count(_.startsWith("rbkt=1/")) == 4)

    // next round would be 8 → bucket 2; buckets 0 and 1 are sealed.
    // With activeRbkt = 1 only bucket 0 may be touched.
    assert(store.compactSealed("block_header", activeRbkt = 1, maxFilesPerBucket = 2) == 1)
    val mid = store.manifest("block_header")
    assert(mid.count(_.startsWith("rbkt=0/")) == 1, "sealed bucket folds to one file")
    assert(mid.filter(_.startsWith("rbkt=1/")).sorted == before.filter(_.startsWith("rbkt=1/")).sorted,
      "active bucket must stay byte-identical (no repeated rewrite amplification)")

    // bucket 1 seals when the watermark moves to bucket 2
    assert(store.compactSealed("block_header", activeRbkt = 2, maxFilesPerBucket = 2) == 1)
    assert(store.manifest("block_header").count(_.startsWith("rbkt=1/")) == 1)
    // nothing further to do: cadence is idempotent and each bucket was
    // rewritten exactly once
    assert(store.compactSealed("block_header", activeRbkt = 2, maxFilesPerBucket = 2) == 0)
    assert(store.read("block_header").select("round").collect().map(_.getLong(0)).sorted.toSeq
      == (0L until 8L).toSeq)
  }

  test("pruneRounds drops whole buckets unread and rewrites only the boundary bucket") {
    val store = new TableStore(spark, tmpDir("graft-man-pr"), nBuckets = 2, roundsPerPartition = 4L)
    store.commit(staged = Seq("block_header" -> store.stageAppend("block_header", headerDf(0L until 12L))))

    store.pruneRounds("block_header", keep = 6L)
    val remaining = store.read("block_header").select("round").collect().map(_.getLong(0)).sorted
    assert(remaining.toSeq == (6L until 12L).toSeq)
    // bucket 0 files physically gone (vacuumed), bucket 2 untouched
    val m = store.manifest("block_header")
    assert(!m.exists(_.startsWith("rbkt=0/")))
    assert(m.exists(_.startsWith("rbkt=1/")), "boundary bucket rewritten, not dropped")
    assert(m.exists(_.startsWith("rbkt=2/")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"${store.root}/block_header/rbkt=0")))
  }

  test("readAsOf pins a committed snapshot across later appends, compaction, and a checkpoint") {
    // interval 2 so the later commits cross a checkpoint boundary: stateAt
    // must replay from a checkpoint, not just walk the live tail
    val store = new TableStore(spark, tmpDir("graft-asof"), nBuckets = 2,
      roundsPerPartition = 4L, metaCheckpointInterval = 2)
    def commit(rounds: Seq[Long]): Unit =
      store.commit(staged = Seq("block_header" -> store.stageAppend("block_header", headerDf(rounds))))

    commit(Seq(0L, 1L))   // v0
    commit(Seq(2L, 3L))   // v1
    commit(Seq(4L, 5L))   // v2 ⇒ checkpoint@2
    val vPin = store.metaVersion
    val rowsAtPin = store.read("block_header").collect().map(_.getLong(3)).sorted

    commit(Seq(6L, 7L))   // v3
    // logical rewrite only — old files must stay readable for snapshots;
    // its own manifest commit (v4) writes checkpoint@4 and trims records ≤ 2
    store.compactSealed("block_header", activeRbkt = Long.MaxValue, maxFilesPerBucket = 1)

    assert(store.read("block_header").count() == 8, "head read sees everything")
    val snap = store.readAsOf("block_header", vPin).collect().map(_.getLong(3)).sorted
    assert(snap.sameElements(rowsAtPin), "snapshot must be stable at the pinned version")
    assert(snap.sameElements(Array(0L, 1L, 2L, 3L, 4L, 5L)))

    // the SQL face: snapshot views answer from the pinned file set
    store.createViewsAsOf(vPin, s"v${vPin}_")
    assert(spark.sql(s"SELECT count(*) FROM v${vPin}_block_header").head().getLong(0) == 6)

    // past the retention horizon (record 0 trimmed by checkpointing),
    // beyond-head, and state-table misuse all fail loudly
    intercept[IllegalStateException](store.readAsOf("block_header", 0L))
    intercept[IllegalArgumentException](store.readAsOf("block_header", store.metaVersion + 10))
    intercept[IllegalArgumentException](store.readAsOf("account", store.metaVersion))

    // vacuum ends the snapshot contract: compaction's replaced files go away
    store.vacuum("block_header")
    intercept[Throwable](store.readAsOf("block_header", vPin).collect())
  }

  test("unlisted state-bucket files stay unread; a write or vacuum sweeps them") {
    import java.nio.file.{Files, Path, Paths}
    import spark.implicits._
    val store = new TableStore(spark, tmpDir("graft-orphan"), nBuckets = 2)
    def assetDf(ids: Seq[Long]) = ids
      .map(i => (i, s"addr$i", "{}", false, 0L, Option.empty[Long]))
      .toDF("id", "creator_addr", "params", "deleted", "created_at", "closed_at")
      .select(TableStore.Schemas("asset").fields.map(f => col(f.name).cast(f.dataType)).toSeq: _*)
    // A crash after staging, before the commit, leaves part files no
    // manifest lists: here a copy of every committed file.
    def plantOrphans(): Seq[Path] = store.manifest("asset").map { f =>
      val src = Paths.get(s"${store.root}/asset/$f")
      Files.copy(src, src.resolveSibling(s"orphan-${src.getFileName}"))
    }
    def bucketDirFiles(): Set[String] = listBkts(store).flatMap { d =>
      val s = Files.list(d)
      try s.iterator().asScala.map(p => s"${d.getFileName}/${p.getFileName}").toList finally s.close()
    }.toSet

    store.writeStateBuckets("asset", "id", assetDf(0L until 10L), Seq(0, 1))
    val orphans = plantOrphans()
    assert(store.readState("asset").count() == 10)
    assert(store.readStateBuckets("asset", Seq(0, 1)).count() == 10)
    assert((0L until 10L).forall(i => store.queryState("asset", Some(i)).filter(col("id") === i).count() == 1))

    // the next write to the buckets sweeps the orphans and its retired files
    store.writeStateBuckets("asset", "id", assetDf(0L until 4L), Seq(0, 1))
    assert(orphans.forall(!Files.exists(_)))
    assert(store.readState("asset").count() == 4)
    assert(bucketDirFiles() == store.manifest("asset").toSet)

    // vacuum sweeps them too, and leaves the committed files
    val more = plantOrphans()
    store.vacuum("asset")
    assert(more.forall(!Files.exists(_)))
    assert(store.readState("asset").count() == 4)

    // an emptied bucket commits an empty list
    store.writeStateBuckets("asset", "id", assetDf(Nil), Seq(0, 1))
    assert(store.manifest("asset").isEmpty && store.readState("asset").count() == 0)
    assert(listBkts(store).isEmpty)
  }

  private def listBkts(store: TableStore) = {
    val s = java.nio.file.Files.list(java.nio.file.Paths.get(s"${store.root}/asset"))
    try s.iterator().asScala.toList.filter(_.getFileName.toString.startsWith("bkt="))
    finally s.close()
  }
}
