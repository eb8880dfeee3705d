package graft.streaming

import graft.operators.{Dedup, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous near-duplicate dedup over a document stream — the streaming
  * face of [[graft.operators.Dedup.incrementalLshPairs]]:
  *
  *   batch N survivors = batch N  minus  within-batch near-dup families
  *                                minus  near-dups of ANY earlier survivor
  *
  * Each micro-batch (driven through `foreachBatch`) is (1) deduplicated
  * against itself with the full LSH → Jaccard → connected-components →
  * canonical-keep pipeline, (2) checked against the PERSISTENT band index
  * accumulated from every earlier batch, and (3) appended to that index —
  * so the index grows only by survivors, and later near-dups always lose
  * to the earliest copy (the deterministic "first wins" a training-corpus
  * ingest wants).
  *
  * State shape at 100 TB/day: the state STORE stays empty — the corpus
  * memory lives in durable storage (two parquet tables under `indexDir`),
  * not executor memory:
  *
  *   - `bands/`:    (doc, band_idx, band_hash)  — the LSH index rows;
  *   - `shingles/`: (doc, shd)                  — md5-HASHED distinct
  *     n-gram sets (verification needs set overlap, not text, and hashed
  *     grams are a fraction of document size; Jaccard over hashed grams
  *     equals Jaccard over grams up to md5 collisions).
  *
  * Per-batch work is O(batch) hashing plus a column-pruned scan of the
  * index (PLANS.md, "Incremental-dedup scale probe", measures the
  * batch-vs-rescan gap).
  *
  * Replay safety: both tables are partitioned by `batch=<batchId>` and
  * written with dynamic partition overwrite, so a replayed micro-batch
  * overwrites its own partition instead of duplicating it — and the
  * cross-batch check reads only `batch < batchId`, so a replay never
  * pairs a batch against its own half-written previous attempt.
  */
object StreamingDedup {

  /** (doc, shd): md5-hashed distinct word-n-gram set — the stored
    * verification form. */
  def hashedShingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("doc"),
      array_distinct(transform(
        TextOps.shingles(TextOps.tokens(col(textCol)), n), s => md5(s))).as("shd"))

  /** One micro-batch step: returns the surviving rows of `batch` and
    * appends their index entries under `batch=<batchId>`. Usable directly
    * on static frames (spec-pinned) or via [[attach]]. */
  def processBatch(batch: DataFrame, batchId: Long, idCol: String, textCol: String,
                   indexDir: String, shingleN: Int = 3, k: Int = 8, bands: Int = 4,
                   minJaccard: Double = 0.8, maxBucket: Int = 1000,
                   droppedAcc: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    val spark = batch.sparkSession
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    // Hash the batch ONCE: the band index and the hashed shingle sets are
    // needed for pairing (1), the cross-batch check (2), AND the stored
    // index entries (3) — materialize them here and derive every stage by
    // (broadcast-sized) semi-joins instead of re-tokenizing per stage.
    // localCheckpoint: materialized AND lineage-truncated, so the three
    // consumers share the work without re-planning the hash pipeline.
    val batchBands = Dedup.bandIndex(batch, idCol, textCol, shingleN, k, bands)
      .localCheckpoint()
    val batchShd = hashedShingles(batch, idCol, textCol, shingleN).localCheckpoint()
    def forDocs(df: DataFrame, ids: DataFrame) =
      df.join(broadcast(ids.select(col(idCol).as("doc"))), Seq("doc"), "left_semi")

    // (1) within-batch: full pipeline, first (smallest id) copy wins
    val withinPairs = Dedup.lshPairsFrom(batchBands, batchShd, maxBucket, droppedAcc)
      .filter(col("jaccard") >= minJaccard)
    val canon = Dedup.keepCanonical(batch, idCol, Dedup.duplicateClusters(withinPairs))

    // (2) cross-batch: candidates from earlier batches' stored bands,
    // verified against their stored hashed shingle sets. The index is
    // semi-joined down to the BATCH's band keys before bucketing: the
    // batch's key set is tiny (|batch| × bands rows) and broadcasts, so
    // the per-batch cost is one column-pruned index scan — never an
    // O(corpus-index) shuffle to re-bucket rows no batch band touches.
    val (priorBands, priorShd) = readIndex(spark, indexDir, belowBatch = Some(batchId))
    val canonBands = forDocs(batchBands, canon)
    val touched = priorBands.join(
      broadcast(canonBands.select("band_idx", "band_hash").distinct()),
      Seq("band_idx", "band_hash"), "left_semi")
    val dupOfPrior = Dedup.incrementalLshPairsFrom(
        canonBands, forDocs(batchShd, canon),
        Dedup.bandBuckets(touched, maxBucket, droppedAcc), priorShd)
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_new").as(idCol)).distinct()
    val survivors = canon.join(dupOfPrior, Seq(idCol), "left_anti")
      // the two index appends + the caller's sink each consume this —
      // one computation, not three (unpersist is the caller's batch end)
      .localCheckpoint()

    // (3) append the survivors' index entries (idempotent per batch)
    forDocs(batchBands, survivors).withColumn("batch", lit(batchId))
      .write.mode("overwrite").partitionBy("batch").parquet(s"$indexDir/bands")
    forDocs(batchShd, survivors).withColumn("batch", lit(batchId))
      .write.mode("overwrite").partitionBy("batch").parquet(s"$indexDir/shingles")
    survivors
  }

  /** The stored index, optionally only batches below `belowBatch`
    * (partition-pruned). Empty frames with the right schema when the
    * index does not exist yet (first batch). */
  def readIndex(spark: org.apache.spark.sql.SparkSession, indexDir: String,
                belowBatch: Option[Long] = None): (DataFrame, DataFrame) = {
    import spark.implicits._
    (readBatchedOr(spark, s"$indexDir/bands", belowBatch,
        Seq.empty[(Long, Int, String)].toDF("doc", "band_idx", "band_hash")),
      readBatchedOr(spark, s"$indexDir/shingles", belowBatch,
        Seq.empty[(Long, Seq[String])].toDF("doc", "shd")))
  }

  /** A `batch=`-partitioned parquet dir, optionally pruned to batches
    * below `belowBatch`, or `empty` when it does not exist yet (first
    * batch). Existence through Hadoop's FileSystem, not java.io.File:
    * these indexes live in durable storage, and on HDFS/S3 a local-file
    * check is always false — the stored index would silently read as
    * empty and cross-batch dedup would silently stop. Shared with
    * [[StreamingSemanticDedup]]. */
  private[streaming] def readBatchedOr(spark: org.apache.spark.sql.SparkSession,
                                       path: String, belowBatch: Option[Long],
                                       empty: => DataFrame): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    if (p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p))
      // BatchLedger.cachedRead: one schema-inference job per ledger
      // path, not one per micro-batch read
      belowBatch.foldLeft(BatchLedger.cachedRead(spark, path))(
        (df, b) => df.filter(col("batch") < b))
    else empty
  }

  /** Convenience wiring: survivors of every micro-batch land in `outDir`
    * (same batch-partitioned idempotent shape as the index). */
  def attach(docs: DataFrame, idCol: String, textCol: String,
             indexDir: String, outDir: String, checkpointDir: String,
             shingleN: Int = 3, k: Int = 8, bands: Int = 4,
             minJaccard: Double = 0.8, maxBucket: Int = 1000,
             droppedAcc: Option[org.apache.spark.util.LongAccumulator] = None): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, idCol, textCol, indexDir,
          shingleN, k, bands, minJaccard, maxBucket, droppedAcc)
          .withColumn("batch", lit(batchId))
          .write.mode("overwrite").partitionBy("batch").parquet(outDir)
      }
      .start()
}
