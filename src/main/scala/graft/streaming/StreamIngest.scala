package graft.streaming

import graft.ingest.{BlockIngest, TableStore}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured Streaming ingest (SURVEY.md §2.H / §3.1): per-round block
  * JSON files → foreachBatch → BlockIngest.applyBlocks.
  *
  * Semantics mapping:
  *   - strict per-round ordering: the file source lists new files in order;
  *     the ordering guard inside applyBlocks enforces round == next and
  *     gap-free batches regardless (cockroach.go:142-146);
  *   - effectively-once: already-accounted rounds replayed after a restart
  *     are dropped by the guard, and a batch's files — appends and merged
  *     state buckets alike — only become visible through the manifests
  *     committed in the same record as the watermark bump, so a failed
  *     batch leaves all nine tables as they were and its replay re-merges
  *     against unchanged state — the Spark analogue of the reference's
  *     one serializable transaction per block, with "txn tables can only
  *     be ahead but not behind" and its tolerated unique violations
  *     (cockroach.go:136-199);
  *   - steady-state small files: every `compactEvery` batches the append
  *     manifests are compacted (manifest swap, invisible to readers);
  *   - no watermark: blockchain rounds cannot be late (§2.H); the
  *     watermark IS the metastate next-round counter, bumped as the last
  *     step of each batch (the single commit point);
  *   - the reference's unbounded serialization-retry loop (util.go:44-68)
  *     maps to Structured Streaming's own task/batch retry machinery.
  */
object StreamIngest {

  /** Start the ingest stream. `inDir` receives one JSON file per round
    * (graft.codec.BlockCodec.blockToJson). */
  def start(
      spark: SparkSession,
      store: TableStore,
      inDir: String,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 64,
      compactEvery: Int = 32): StreamingQuery = {
    import spark.implicits._
    spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .textFile(inDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[String], batchId: Long) =>
        BlockIngest.applyBlocks(store, batch)
        if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
          TableStore.AppendTables.foreach(t => store.compact(t))
      }
      .start()
  }

  /** Continuous variant for a live follower (same pipeline, processing-time
    * trigger). */
  def startContinuous(
      spark: SparkSession,
      store: TableStore,
      inDir: String,
      checkpointDir: String,
      intervalMs: Long = 1000L,
      compactEvery: Int = 32): StreamingQuery = {
    import spark.implicits._
    spark.readStream
      .option("maxFilesPerTrigger", 64)
      .textFile(inDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(intervalMs))
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[String], batchId: Long) =>
        BlockIngest.applyBlocks(store, batch)
        if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
          TableStore.AppendTables.foreach(t => store.compact(t))
      }
      .start()
  }
}
