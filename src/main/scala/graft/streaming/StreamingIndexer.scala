package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.index.{IndexBuilder, IndexConfig, IndexManifest}

/** Structured Streaming ingestion: the reference's `IndexWriter` pipeline
  * (channel of AddBatches -> worker threads -> segments -> atomic commit,
  * `/root/reference/src/indexer/index_writer.rs:183-226,618-680`) maps to
  * `foreachBatch` appending a segment batch per micro-batch, with the
  * checkpointed batch id as the opstamp:
  *
  *  - each micro-batch builds its own segment range
  *    (segmentBase = (batchId+1) * BatchSegmentStride), so concurrent history
  *    never collides and a replayed batch (after failure) is idempotent —
  *    partial output of an uncommitted batch range is cleaned before rebuild
  *    and the manifest only ever advances atomically;
  *  - the manifest swap is the commit; `IndexReader`-style freshness =
  *    constructing a new Searcher on the updated manifest.
  *
  * Merge policy runs out-of-band (`SegmentMerger`), exactly like the
  * reference's background merge threads.
  */
object StreamingIndexer {

  val BatchSegmentStride: Int = 1 << 20
  /** the last batch whose whole id range fits in Int */
  val MaxBatchId: Long = Int.MaxValue / BatchSegmentStride - 1

  /** Append one (batch) DataFrame to the index — also usable directly for
    * incremental batch ingestion.
    */
  def appendBatch(spark: SparkSession, batch: DataFrame, indexDir: String,
      cfg: IndexConfig, batchId: Long): IndexManifest = {
    // batch b owns ids [(b + 1) * stride, (b + 2) * stride): a range that
    // wraps past Int or overruns the stride aliases another batch's ids,
    // and ids already in the manifest make the build skip this batch
    // without a word
    val perPartition = IndexBuilder.ChunksPerPartition
    require(cfg.numPartitions.toLong * perPartition <= BatchSegmentStride,
      s"numPartitions ${cfg.numPartitions} x $perPartition segment ids overruns the " +
        s"batch stride $BatchSegmentStride (at most ${BatchSegmentStride / perPartition} partitions)")
    require(batchId >= 0 && batchId <= MaxBatchId,
      s"batchId $batchId: its segment ids overflow Int (batchId must lie in 0..$MaxBatchId)")
    val base = (batchId + 1) * BatchSegmentStride
    IndexBuilder.build(spark, batch, indexDir, cfg, resume = true, segmentBase = base.toInt)
  }

  /** Start the streaming ingestion query. */
  def start(stream: DataFrame, indexDir: String, cfg: IndexConfig,
      checkpointDir: String): StreamingQuery =
    startCurated(stream, indexDir, cfg, checkpointDir, identity)

  /** Curate-then-index in one stream: `curate` runs on each micro-batch
    * BEFORE the segment append — inside `foreachBatch` the batch is a plain
    * DataFrame, so the full batch curation toolkit (gopher/C4 rule
    * batteries, repetition scoring, PII redaction, dedup screens, ...)
    * composes unchanged, including aggregating ops that Structured
    * Streaming would reject on an unbounded stream. A doc dropped by
    * curation never reaches a segment; replays stay idempotent because the
    * filter is deterministic and [[appendBatch]] keys the segment range by
    * the checkpointed batch id.
    */
  def startCurated(stream: DataFrame, indexDir: String, cfg: IndexConfig,
      checkpointDir: String, curate: DataFrame => DataFrame): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendBatch(batch.sparkSession, curate(batch), indexDir, cfg, batchId)
        ()
      }
      .start()
}
