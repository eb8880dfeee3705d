package graft.ingest

import graft.SparkSpec
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.Row
import scala.jdk.CollectionConverters._

/** Pins the append-only metadata log: set/append record semantics,
  * checkpoint + retention, crash-replay across a checkpoint boundary,
  * cross-instance visibility, the O(batch) commit payload that motivates
  * the design, and `TableStore.commit` as the store's one record writer. */
class MetaLogSpec extends SparkSpec {

  private def metaFiles(root: String): Seq[String] =
    scala.util.Using.resource(Files.list(Paths.get(root, "_meta")))(
      _.iterator().asScala.map(_.getFileName.toString).toList).sorted

  test("set replaces, append joins lines; state materializes through both") {
    val root = tmpDir("metalog")
    val log = new MetaLog(root)
    log.append(sets = Seq("watermark" -> "1"), appends = Seq("manifest.t" -> "f1"))
    log.append(sets = Seq("watermark" -> "2"), appends = Seq("manifest.t" -> "f2\nf3"))
    log.append(sets = Seq("manifest.t" -> "f9"))                     // full replace
    log.append(sets = Nil, appends = Seq("manifest.t" -> "f10"))
    assert(log.state() == Map("watermark" -> "2", "manifest.t" -> "f9\nf10"))
    assert(log.version == 3)
  }

  test("a fresh reader instance replays checkpoint + tail to the same state") {
    val root = tmpDir("metalog")
    val log = new MetaLog(root, checkpointInterval = 8)
    (0 until 30).foreach { i =>
      log.append(sets = Seq("wm" -> i.toString), appends = Seq("m" -> s"file-$i"))
    }
    val reader = new MetaLog(root, checkpointInterval = 8)
    assert(reader.state() == log.state())
    assert(reader.state()("wm") == "29")
    assert(reader.state()("m").linesIterator.size == 30)
    // checkpoints exist and old records were retired (interval 8, 30
    // records ⇒ checkpoints at 8,16,24; records ≤ 16 dropped)
    val files = metaFiles(root)
    assert(files.count(_.endsWith(".checkpoint.json")) == 2)
    assert(!files.contains(f"${8L}%020d.json"))
    assert(files.count(f => f.endsWith(".json") && !f.endsWith(".checkpoint.json")) <= 14)
  }

  test("crash replay across a checkpoint boundary: reader state is exact") {
    val root = tmpDir("metalog")
    val writer = new MetaLog(root, checkpointInterval = 4)
    (0 until 6).foreach(i => writer.append(Seq("k" -> s"v$i"), Seq("log" -> s"entry-$i")))
    // "crash": drop the writer; leftover tmp from a mid-write crash is inert
    Files.writeString(Paths.get(root, "_meta", ".tmp-dead"), "{broken")
    val recovered = new MetaLog(root, checkpointInterval = 4)
    assert(recovered.version == 5)
    assert(recovered.state()("k") == "v5")
    assert(recovered.state()("log") == (0 until 6).map(i => s"entry-$i").mkString("\n"))
    // recovered writer continues the sequence and crosses the next boundary
    (6 until 9).foreach(i => recovered.append(Seq("k" -> s"v$i"), Seq("log" -> s"entry-$i")))
    val reader = new MetaLog(root)
    assert(reader.state()("log") == (0 until 9).map(i => s"entry-$i").mkString("\n"))
  }

  test("an open instance sees another writer's commits (version-gated refresh)") {
    val root = tmpDir("metalog")
    val a = new MetaLog(root)
    val b = new MetaLog(root)
    a.append(Seq("x" -> "1"))
    assert(b.state()("x") == "1")   // b lists the dir, replays the new tail
    b.append(Seq("x" -> "2"))
    assert(a.state()("x") == "2")
  }

  test("commit payload is O(batch), not O(history)") {
    val root = tmpDir("metalog")
    val log = new MetaLog(root, checkpointInterval = 1000) // no checkpoint interference
    val batchLines = (0 until 4).map(i => s"rbkt=0/part-$i.parquet").mkString("\n")
    var sizes = Vector.empty[Long]
    (0 until 200).foreach { i =>
      log.append(Seq("wm" -> i.toString), Seq("manifest.txn" -> batchLines))
      sizes :+= Files.size(Paths.get(root, "_meta", f"${i.toLong}%020d.json"))
    }
    // every record is the same size: the 200th commit writes no more
    // bytes than the 1st even though state holds 800 manifest lines
    assert(sizes.distinct.size <= 3, s"record sizes should be flat, got ${sizes.distinct}")
    assert(sizes.last <= sizes.head + 8)
  }

  test("TableStore round-trips manifests and index lines through the log") {
    val root = tmpDir("store")
    val store = new TableStore(spark, root, roundsPerPartition = 4L)
    def stage(rounds: Seq[Long]): Seq[String] = store.stageAppend("txn", spark.createDataFrame(
      rounds.map(r => Row(0, 1.toShort, 0L, s"TX$r", "{}", "{}", r)).asJava, TableStore.Schemas("txn")))
    def statsRange(files: Seq[String]): (Long, Long) = {
      val st = store.fileRoundStatsRaw("txn")
      (files.map(st(_)._1).min, files.map(st(_)._2).max)
    }
    val first = stage(Seq(0L, 2L))
    store.commit(staged = Seq("txn" -> first), sets = Seq(TableStore.MetaNextRound -> "5"))
    assert(store.manifest("txn") == first)
    assert(store.fileRoundStatsRaw("txn").keySet == first.toSet && statsRange(first) == (0L, 2L))
    assert(store.fileBloomRaw("txn", "txid").keySet == first.toSet)
    assert(store.nextRound == 5)
    // the second commit APPENDS manifest + index lines: its record names
    // only its own files
    val second = stage(Seq(5L, 6L))
    store.commit(staged = Seq("txn" -> second))
    assert(store.manifest("txn") == first ++ second)
    assert(statsRange(second) == (5L, 6L) && statsRange(first) == (0L, 2L))
    val record = Files.readString(Paths.get(root, "_meta", f"${store.metaVersion}%020d.json"))
    assert(second.forall(record.contains) && !first.exists(record.contains))
  }

  test("genesis is one commit that records the layout; another layout cannot reopen it") {
    import graft.queries.EngineQueries.addr
    val root = tmpDir("store-layout")
    val store = new TableStore(spark, root, nBuckets = 4)
    BlockIngest.initGenesis(store, (0 until 12).map(i => (addr(i), 1000L + i, "{}")), network = "net")
    assert(store.metaVersion == 0, "accounts, network, migration and watermark in one record")
    assert(store.nextRound == 0 && store.metastate(TableStore.MetaNetwork) == "net")
    // 8 buckets would send point lookups to buckets the accounts are not in
    intercept[IllegalArgumentException](new TableStore(spark, root, nBuckets = 8))
    intercept[IllegalArgumentException](new TableStore(spark, root, nBuckets = 4, roundsPerPartition = 10L))
    val reopened = new TableStore(spark, root, nBuckets = 4, readOnly = true)
    (0 until 12).foreach { i =>
      val (df, _) = graft.query.Api.accounts(reopened,
        graft.query.Api.AccountQueryOptions(equalToAddress = Some(addr(i))))
      assert(df.select("microalgos").collect().map(_.getLong(0)).toSeq == Seq(1000L + i), addr(i))
    }
  }

  test("model check: random op sequences match an in-memory map, any reader, any interval") {
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 5) {
      val root = tmpDir(s"metalog-model-$trial")
      val interval = Seq(3, 7, 16)(trial % 3)
      val log = new MetaLog(root, checkpointInterval = interval)
      var model = Map.empty[String, String]
      var history = Vector.empty[Map[String, String]] // model AFTER commit v
      val keys = Vector("wm", "m.txn", "m.part", "stats", "acct")
      (0 until 120).foreach { i =>
        val sets = (0 until rnd.nextInt(3)).map(_ => keys(rnd.nextInt(keys.size)) -> s"v$i-${rnd.nextInt(10)}")
        val apps = (0 until rnd.nextInt(3)).map(_ => keys(rnd.nextInt(keys.size)) -> s"line$i")
        log.append(sets, apps)
        model = sets.foldLeft(model) { case (m, (k, v)) => m.updated(k, v) }
        model = apps.foldLeft(model) { case (m, (k, v)) =>
          m.updated(k, m.get(k).filter(_.nonEmpty).map(_ + "\n" + v).getOrElse(v))
        }
        history :+= model
        if (i % 17 == 0) {
          // a FRESH reader (checkpoint + tail replay) sees exactly the model
          assert(new MetaLog(root, checkpointInterval = interval).state() == model,
            s"trial $trial diverged at op $i")
          // time travel: any past version either matches its historical
          // model exactly or throws the retention-horizon error — never a
          // silently wrong state
          (0 to i).foreach { v =>
            try assert(log.stateAt(v) == history(v), s"trial $trial stateAt($v) wrong at op $i")
            catch { case _: IllegalStateException => () /* past the horizon */ }
          }
        }
      }
      assert(log.state() == model)
      assert(new MetaLog(root).state() == model)
      // the head version is always within the horizon
      assert(log.stateAt(log.version) == model)
    }
  }

  test("real ingest across a checkpoint boundary: reopen resumes and replays exactly") {
    import graft.codec.BlockCodec
    import graft.queries.EngineQueries
    import spark.implicits._
    val root = tmpDir("store-ckpt")
    // interval 3: ten 1-block batches cross several checkpoints
    val store = new TableStore(spark, root, nBuckets = 2, metaCheckpointInterval = 3)
    BlockIngest.initGenesis(store,
      (0 until 10).map(i => (EngineQueries.addr(i), 1000000L, "{}")), network = "ckpt-net")
    for (r <- 0 until 10)
      BlockIngest.applyBlocks(store, spark.createDataset(
        EngineQueries.syntheticBlocks(rounds = 1, txnsPerRound = 2, startRound = r)
          .map(BlockCodec.blockToJson)))
    val txnCount = store.read("txn").count()
    assert(store.nextRound == 10 && txnCount > 0)
    assert(metaFiles(root).exists(_.endsWith(".checkpoint.json")),
      "ten commits at interval 3 must have checkpointed")

    // a FRESH store (new JVM in production) materializes checkpoint+tail:
    // same watermark, same manifests, same data — and keeps ingesting
    val reopened = new TableStore(spark, root, nBuckets = 2, metaCheckpointInterval = 3)
    assert(reopened.nextRound == 10)
    assert(reopened.read("txn").count() == txnCount)
    assert(reopened.manifest("txn") == store.manifest("txn"))
    BlockIngest.applyBlocks(reopened, spark.createDataset(
      EngineQueries.syntheticBlocks(rounds = 1, txnsPerRound = 2, startRound = 10)
        .map(BlockCodec.blockToJson)))
    assert(reopened.nextRound == 11)
    assert(reopened.read("txn").count() > txnCount)
  }

  test("readOnly store refuses mutation and leaves uncommitted files in place") {
    val root = tmpDir("store")
    val rw = new TableStore(spark, root)
    rw.commit(sets = Seq("x" -> "1"))
    val ro = new TableStore(spark, root, readOnly = true)
    assert(ro.metastate("x") == "1")
    intercept[IllegalStateException](ro.commit(sets = Seq("x" -> "2")))
    intercept[IllegalStateException](ro.stageAppend("txn", rw.read("txn")))
    // a writer's uncommitted part file in a state bucket (not even valid
    // parquet): never read, and a read-only store neither reads nor
    // deletes it
    val orphan = Paths.get(root, "account", "bkt=0", "part-orphan.parquet")
    Files.createDirectories(orphan.getParent)
    Files.writeString(orphan, "uncommitted")
    assert(ro.read("account").count() == 0 && ro.queryState("account", None).count() == 0)
    intercept[IllegalStateException](ro.vacuum("account"))
    assert(Files.exists(orphan), "read-only store must not delete files")
    // the writer's vacuum deletes it
    rw.vacuum("account")
    assert(!Files.exists(orphan))
  }
}
