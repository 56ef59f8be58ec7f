package graft.index

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.fixtures.CodeCorpus
import graft.search.GraftSearcher

/** Deletes/updates: tombstones (the `.liv` analog) must hide docs from every
  * query shape immediately, survive commits, purge physically at merge, and
  * compose into update = delete-by-key + add. */
class DeleteSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshIndex(n: Int): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-delspec-").toString
    IndexStore.buildAndCommit(
      spark.createDataset(CodeCorpus.files(n)), dir, IndexConfig(numPartitions = 4))
    dir
  }

  test("deleted docs stop matching term, AND, OR, NOT, and scored queries") {
    val dir = freshIndex(500)
    val idx0 = IndexStore.open(spark, dir)
    val s0 = new GraftSearcher(idx0)
    val victims = s0.matchesDS(s0.parse("mergepolicy")).collect().toSet
    assert(victims.nonEmpty)
    IndexStore.deleteDocs(spark, dir, spark.createDataset(victims.toSeq))

    val idx = IndexStore.open(spark, dir)
    assert(idx.hasDeletes)
    val s = new GraftSearcher(idx)
    // every doc that contained 'mergepolicy' is gone from every shape
    assert(s.search("mergepolicy", 100).isEmpty)
    assert(s.matchesDS(s.parse("mergepolicy OR parsequery")).collect()
      .toSet.intersect(victims).isEmpty)
    assert(s.search("mergepolicy AND if", 100).isEmpty)
    // NOT anchors on MatchAll — deleted docs must not sneak back in
    val notHits = s.matchesDS(s.parse("NOT parsequery")).collect().toSet
    assert(notHits.intersect(victims).isEmpty)
    // pruned top-k and exhaustive oracle agree under deletes
    val ast = s.parse("if OR return OR indexwriter")
    assert(s.search(ast, 10, null).toSeq == s.bruteForce(ast, 10).toSeq)
    assert(s.search(ast, 10, null).map(_.docId).toSet.intersect(victims).isEmpty)
    // double-scored path honors tombstones too
    assert(s.searchDouble(s.parse("mergepolicy"), 10).isEmpty)
  }

  test("delete is idempotent and unions across generations") {
    val dir = freshIndex(200)
    IndexStore.deleteDocs(spark, dir, spark.createDataset(Seq(1L, 2L, 3L)))
    IndexStore.deleteDocs(spark, dir, spark.createDataset(Seq(3L, 4L)))
    val idx = IndexStore.open(spark, dir)
    assert(idx.deletes.collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L))
    assert(IndexStore.readManifest(dir).get.delGen == 1L)
  }

  test("merge physically purges tombstoned docs and clears the tombstones") {
    val dir = java.nio.file.Files.createTempDirectory("graft-delspec-").toString
    val all = CodeCorpus.files(300)
    // two segments, deletes spanning both
    IndexStore.buildAndCommit(spark.createDataset(all.take(150)), dir, IndexConfig(numPartitions = 2))
    IndexStore.buildAndCommit(spark.createDataset(all.drop(150)), dir, IndexConfig(numPartitions = 2))
    val idx0 = IndexStore.open(spark, dir)
    val s0 = new GraftSearcher(idx0)
    val victims = s0.matchesDS(s0.parse("tokenstream")).collect().toSet
    assert(victims.nonEmpty)
    IndexStore.deleteDocs(spark, dir, spark.createDataset(victims.toSeq))
    val preMerge = {
      val s = new GraftSearcher(IndexStore.open(spark, dir))
      s.matchesDS(s.parser.parse("if OR buffer")).collect().toSet
    }

    val m = SegmentMerger.mergeAll(spark, dir, IndexConfig(numPartitions = 2))
    assert(m.delGen == -1L, "full merge must clear tombstones")
    val idx = IndexStore.open(spark, dir)
    assert(!idx.hasDeletes)
    // postings physically gone: the stored blocks' own docIds, not a join
    // with docmeta (which would hide any the merge left behind)
    val decoded = idx.blocks
      .flatMap(b => graft.codec.PostingsCodec.decodeDocs(b.toEncodedBlock))
      .collect().toSet
    assert(decoded.intersect(victims).isEmpty)
    assert(CheckIndex.check(spark, dir).clean)
    // docmeta purged, stats shrank
    assert(idx.docs.filter($"docId".isInCollection(victims)).count() == 0)
    assert(idx.fieldStats.docCount == 300 - victims.size)
    // same matching docs before and after the purge (scores legitimately
    // shift: docCount/avgdl shrink when the merge applies the deletes,
    // exactly like Lucene's stats-at-merge semantics)
    val s = new GraftSearcher(idx)
    assert(s.matchesDS(s.parser.parse("if OR buffer")).collect().toSet == preMerge)
    assert(s.search("tokenstream", 10).isEmpty)
  }

  test("update = delete-by-key + add replaces a document's content") {
    val dir = freshIndex(100)
    val orig = CodeCorpus.files(100).head
    val updated = orig.copy(
      content = "entirely fresh replacementtoken content",
      sha256 = IndexBuilder.sha256Hex("entirely fresh replacementtoken content"))
    IndexStore.updateDocs(spark.createDataset(Seq(updated)), dir)
    val idx = IndexStore.open(spark, dir)
    val s = new GraftSearcher(idx)
    val hits = s.matchesDS(s.parse("replacementtoken")).collect()
    assert(hits.length == 1)
    // the old docId for this key is tombstoned; the new one is live
    val oldId = idx.deletes.collect()
    assert(oldId.length == 1)
    assert(!hits.contains(oldId.head))
    // key uniqueness restored: exactly one LIVE doc for the key
    val liveForKey = idx.liveDocsDF
      .filter($"repo" === orig.repo && $"path" === orig.path && $"commit" === orig.commit)
      .count()
    assert(liveForKey == 1)
  }
}
