package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.TestSpark
import graft.analysis.Analyzers
import graft.fixtures.CodeCorpus
import graft.index.{IndexBuilder, IndexConfig, IndexStore}
import graft.search.GraftSearcher

/** Streaming ingest spec: micro-batches become segments; search over the
  * streamed index is rank-identical to a single-shot batch build (the NRT
  * visibility + merge-identity property, SURVEY.md §2.9). */
class IncrementalIndexerSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("micro-batches commit segments; results match a batch build") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-idx").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-stream-ckpt").toString
    val all = CodeCorpus.files(120)
    val cfg = IndexConfig(numPartitions = 4)

    val source = MemoryStream[graft.index.CodeFile]
    val q = IncrementalIndexer.start(source.toDS(), dir, ckpt, cfg, docBaseStride = 1000L)
    try {
      source.addData(all.take(60))
      q.processAllAvailable()
      val m1 = IndexStore.readManifest(dir).get
      assert(m1.segments.nonEmpty && m1.docCount == 60)

      source.addData(all.drop(60))
      q.processAllAvailable()
      val m2 = IndexStore.readManifest(dir).get
      assert(m2.docCount == 120)
      assert(m2.generation > m1.generation)
    } finally q.stop()

    val streamed = new GraftSearcher(IndexStore.open(spark, dir))
    val batch = new GraftSearcher(IndexBuilder.build(all.toDS(), cfg))
    for (qs <- Seq("indexwriter", "if AND return", "parsequery OR mergepolicy", "\"merge policy\"")) {
      val a = streamed.search(qs, 10).map(_.score).toSeq
      val b = batch.search(qs, 10).map(_.score).toSeq
      assert(a == b, s"streamed vs batch scores differ for '$qs'")
    }
  }

  test("replayed batch is idempotent (at-least-once foreachBatch -> one segment)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-replay-idx").toString
    val batch = CodeCorpus.files(30).toDS()
    val cfg = IndexConfig(numPartitions = 2)
    IncrementalIndexer.commitBatch(batch, 0L, dir, cfg, 1000L)
    val m1 = IndexStore.readManifest(dir).get
    IncrementalIndexer.commitBatch(batch, 0L, dir, cfg, 1000L) // replay
    val m2 = IndexStore.readManifest(dir).get
    assert(m1 == m2)
    assert(m2.segments.size == 1 && m2.docCount == 30)
  }

  test("a batch with another index sort than the committed one is refused") {
    import spark.implicits._
    val dir = IndexBuilder.scratchDir("graft-sort-idx")
    val files = CodeCorpus.files(60)
    IncrementalIndexer.commitBatch(files.take(30).toDS(), 0L, dir, IndexConfig(numPartitions = 2), 1000L)
    val m0 = IndexStore.readManifest(dir).get
    intercept[IllegalArgumentException](
      IncrementalIndexer.commitBatch(files.drop(30).toDS(), 1L, dir,
        IndexConfig(numPartitions = 2, sortFields = Seq("lang")), 1000L))
    assert(IndexStore.readManifest(dir).get.generation == m0.generation)
  }
}
