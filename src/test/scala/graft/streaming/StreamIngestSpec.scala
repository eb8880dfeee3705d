package graft.streaming

import graft.{Fixtures, SparkSpec}
import graft.codec.BlockCodec
import graft.ingest.{BlockIngest, TableStore}
import graft.model._
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.streaming.Trigger

/** Structured Streaming ingest (§2.H): per-round files → foreachBatch →
  * tables; restart resumes from checkpoint; replays are idempotent. */
class StreamIngestSpec extends SparkSpec {
  import Fixtures._

  private def writeRound(dir: String, b: Block): Unit =
    Files.writeString(Paths.get(dir, f"round-${b.round}%012d.json"), BlockCodec.blockToJson(b))

  test("stream ingests available rounds, then resumes after restart") {
    val inDir = tmpDir("graft-stream-in")
    val ckDir = tmpDir("graft-stream-ck")
    val store = new TableStore(spark, tmpDir("graft-stream-store"), nBuckets = 4)
    BlockIngest.initGenesis(store, Seq((A, 1000L, "{}")), "stream-net")

    writeRound(inDir, block(0, Vector(pay(A, B, 1)),
      delta = LedgerDelta(accounts = Vector(acctUpsert(A, 999)))))
    writeRound(inDir, block(1, Vector(pay(B, A, 2)),
      delta = LedgerDelta(accounts = Vector(acctUpsert(B, 501)))))

    val q1 = StreamIngest.start(spark, store, inDir, ckDir)
    q1.awaitTermination(60000)
    assert(store.nextRound == 2)
    assert(store.read("txn").count() == 2)

    // new rounds arrive; a fresh AvailableNow stream picks up from checkpoint
    writeRound(inDir, block(2, Vector(pay(A, B, 3)),
      delta = LedgerDelta(accounts = Vector(acctUpsert(A, 99)))))
    val q2 = StreamIngest.start(spark, store, inDir, ckDir)
    q2.awaitTermination(60000)
    assert(store.nextRound == 3)
    assert(store.read("txn").count() == 3)
    val acct = store.readState("account").collect()
      .map(r => r.getAs[String]("addr") -> r.getAs[Long]("microalgos")).toMap
    assert(acct(A) == 99 && acct(B) == 501)
  }

  test("a processing-time trigger ingests rounds that arrive later") {
    val inDir = tmpDir("graft-stream3-in")
    val store = new TableStore(spark, tmpDir("graft-stream3-store"), nBuckets = 4)
    BlockIngest.initGenesis(store, Seq((A, 1000L, "{}")), "net3")
    writeRound(inDir, block(0, Vector(pay(A, B, 1)),
      delta = LedgerDelta(accounts = Vector(acctUpsert(A, 999)))))

    val q = StreamIngest.start(spark, store, inDir, tmpDir("graft-stream3-ck"),
      trigger = Trigger.ProcessingTime(100))
    try {
      q.processAllAvailable()
      assert(store.nextRound == 1)
      // a round arriving AFTER the stream started is picked up by a later trigger
      writeRound(inDir, block(1, Vector(pay(B, A, 2)),
        delta = LedgerDelta(accounts = Vector(acctUpsert(B, 501)))))
      q.processAllAvailable()
      assert(store.nextRound == 2)
      assert(store.read("txn").count() == 2)
      assert(q.isActive)
    } finally q.stop()
  }

  test("restart with a WIPED checkpoint replays idempotently (effectively-once)") {
    val inDir = tmpDir("graft-stream2-in")
    val store = new TableStore(spark, tmpDir("graft-stream2-store"), nBuckets = 4)
    BlockIngest.initGenesis(store, Seq((A, 1000L, "{}")), "net")
    writeRound(inDir, block(0, Vector(pay(A, B, 1)),
      delta = LedgerDelta(accounts = Vector(acctUpsert(A, 999)))))

    val q1 = StreamIngest.start(spark, store, inDir, tmpDir("graft-stream2-ck1"))
    q1.awaitTermination(60000)
    val before = store.read("txn").count()

    // second run with a NEW checkpoint sees all files again — the ordering
    // guard must drop already-accounted rounds instead of double-applying
    val q2 = StreamIngest.start(spark, store, inDir, tmpDir("graft-stream2-ck2"))
    q2.awaitTermination(60000)
    assert(store.nextRound == 1)
    assert(store.read("txn").count() == before)
  }
}
