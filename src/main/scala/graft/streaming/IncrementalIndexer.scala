package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.index.{CodeFile, IndexConfig, IndexStore}

/** Incremental (near-real-time) indexing: the Spark-native re-expression of
  * the reference's NRT ingest — Lucene soft commits + Solr `TopicStream` /
  * `DaemonStream` checkpointed micro-batch pull (reference:
  * solr/solrj/src/java/org/apache/solr/client/solrj/io/stream/TopicStream.java,
  * DaemonStream.java; NRT readers: lucene/core/src/java/org/apache/lucene/index/
  * DirectoryReader.java `open(IndexWriter)`).
  *
  * Each micro-batch becomes one committed segment (manifest generation bump ≙
  * `segments_N`); readers opening the index after a trigger see the new docs.
  * Exactly Lucene's DWPT-flush-per-buffer model with the stream trigger as
  * the flush policy.
  *
  * Idempotence/resume: the segment is named by `batchId`, so a batch replayed
  * after a failure (Structured Streaming's at-least-once `foreachBatch`
  * contract) finds its segment already in the manifest and skips — giving
  * effectively-once commits on top of the checkpointed source offsets.
  */
object IncrementalIndexer {

  /** Start indexing a streaming Dataset of input rows into `indexDir`.
    * `docBaseStride` reserves a docId range per batch: batch i's docIds live
    * in [i*stride, i*stride + count), keeping ids disjoint and deterministic
    * without cross-batch coordination. */
  def start(
      stream: Dataset[CodeFile],
      indexDir: String,
      checkpointDir: String,
      cfg: IndexConfig = IndexConfig(),
      docBaseStride: Long = 1L << 32,
      trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery = {
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[CodeFile], batchId: Long) =>
        commitBatch(batch, batchId, indexDir, cfg, docBaseStride)
        ()
      }
      .start()
  }

  /** Commit one non-empty micro-batch as segment `seg-batch-<batchId>` at
    * docBase `batchId * docBaseStride`, through the same append step as a
    * batch build ([[IndexStore.appendSegment]]): a replayed batch is
    * skipped, and a batch with another index sort than the committed one is
    * refused.
    *
    * SINGLE-WRITER contract: the manifest read-modify-write here is not
    * atomic against a concurrent merge (`SegmentMerger.compactTiered` /
    * `mergeAll`) on the same index dir — exactly Lucene's rule that one
    * `IndexWriter` (holding write.lock) owns an index at a time (reference:
    * lucene/core/src/java/org/apache/lucene/index/IndexWriter.java write.lock).
    * Run compaction from the same single writer (e.g. inside foreachBatch
    * between commits), never as a parallel job. */
  def commitBatch(
      batch: Dataset[CodeFile],
      batchId: Long,
      indexDir: String,
      cfg: IndexConfig,
      docBaseStride: Long): Unit =
    if (!batch.isEmpty)
      IndexStore.appendSegment(batch, indexDir, cfg)(_ =>
        (f"seg-batch-$batchId%08d", batchId * docBaseStride))
}
