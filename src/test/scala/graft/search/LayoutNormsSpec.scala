package graft.search

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.fixtures.CodeCorpus
import graft.index._

/** Posting blocks carry no norms: a [[TermIterator]] scores with the norm
  * its [[DocRange]] loaded from `docmeta`. For every posting of every term
  * in every range of the resident layout, the norm the iterator reports is
  * the doc's `docmeta.norm`, at 1, 2 and 8 ranges (blocks straddling a
  * range edge included), on one segment, on three appended segments with
  * tombstones, and after a merge that purged docIds (gaps in the doc
  * space). */
class LayoutNormsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val cfg = IndexConfig(numPartitions = 2)
  private lazy val files = CodeCorpus.files(360)

  private lazy val single = IndexBuilder.build(spark.createDataset(files), cfg)

  /** Three appended segments, every 5th docId tombstoned. */
  private lazy val multiDir: String = {
    val d = IndexBuilder.scratchDir("graft-layout-norms-")
    Seq(files.take(120), files.slice(120, 240), files.drop(240))
      .foreach(part => IndexStore.buildAndCommit(spark.createDataset(part), d, cfg))
    IndexStore.deleteDocs(spark, d, spark.range(0, 360, 5).as[Long])
    d
  }
  private lazy val multi = IndexStore.open(spark, multiDir)

  private lazy val merged = {
    val d = IndexBuilder.scratchDir("graft-layout-norms-merged-")
    IndexStore.replicate(multiDir, d)
    SegmentMerger.mergeAll(spark, d, cfg)
    IndexStore.open(spark, d)
  }

  /** Every posting the iterators of `idx`'s `p`-range layout visit scores
    * with its doc's docmeta norm; returns how many postings were visited
    * and how many of them came from blocks straddling a range edge. */
  private def check(idx: GraftIndex, p: Int): (Long, Long) = {
    val normOf = idx.docs.collect().map(d => d.docId -> d.norm).toMap
    assert(normOf.values.toSet.size > 5, "the fixture's docs must differ in length")
    val stats = CollectionStats(idx.fieldStats.docCount, idx.fieldStats.sumTotalTermFreq)
    val ranges = idx.docRangeLayout(p).ranges.collect()
    assert(ranges.length == p)
    var visited = 0L
    var straddling = 0L
    for (r <- ranges; (t, blocks) <- r.blocks) {
      val it = new TermIterator(blocks, Bm25.scorer(1f, Bm25.DEFAULT_K1, Bm25.DEFAULT_B, 1L, stats), r)
      var d = it.nextDoc()
      while (d != DocScorer.NO_MORE) {
        assert(normOf.get(d).contains(it.norm), s"'$t' doc $d in [${r.lo}, ${r.hi})")
        visited += 1
        if (blocks.exists(b => b.firstDocId <= d && d <= b.lastDocId &&
            (b.firstDocId < r.lo || b.lastDocId >= r.hi))) straddling += 1
        d = it.nextDoc()
      }
    }
    (visited, straddling)
  }

  test("fixtures: the merged index has purged docId gaps") {
    val ids = merged.docs.collect().map(_.docId)
    assert(merged.fieldStats.maxDocId + 1 > ids.length, "a merge after deletes leaves gaps")
    assert(!merged.hasDeletes)
  }

  for (p <- Seq(1, 2, 8)) {
    test(s"single segment at $p ranges: iterators score with docmeta norms") {
      val (visited, straddling) = check(single, p)
      assert(visited > 0)
      if (p > 1) assert(straddling > 0, "some block must straddle a range edge")
    }
    test(s"three segments with tombstones at $p ranges: iterators score with docmeta norms") {
      val (visited, straddling) = check(multi, p)
      assert(visited > 0)
      if (p > 1) assert(straddling > 0, "some block must straddle a range edge")
    }
    test(s"merged with purged gaps at $p ranges: iterators score with docmeta norms") {
      val (visited, straddling) = check(merged, p)
      assert(visited > 0)
      if (p > 1) assert(straddling > 0, "some block must straddle a range edge")
    }
  }
}
