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
  *   - steady-state small files: every batch's applyBlocks runs
  *     `TableStore.compactSealed`, which merges the file sets of sealed
  *     (no longer written) round buckets by a manifest swap, invisible to
  *     readers, and leaves the physical delete to `vacuum`, so files a
  *     concurrent snapshot may still scan stay on disk;
  *   - no watermark: blockchain rounds cannot be late (§2.H); the
  *     watermark IS the metastate next-round counter, bumped as the last
  *     step of each batch (the single commit point);
  *   - the reference's unbounded serialization-retry loop (util.go:44-68)
  *     maps to Structured Streaming's own task/batch retry machinery.
  */
object StreamIngest {

  /** Start the ingest stream. `inDir` receives one JSON file per round
    * (graft.codec.BlockCodec.blockToJson). The default trigger drains the
    * files present and stops; a live follower passes
    * `Trigger.ProcessingTime(ms)` to keep picking up new rounds. */
  def start(
      spark: SparkSession,
      store: TableStore,
      inDir: String,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 64,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    import spark.implicits._
    spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .textFile(inDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[String], _: Long) =>
        BlockIngest.applyBlocks(store, batch)
      }
      .start()
  }
}
