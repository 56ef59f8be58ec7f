package graft.search

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.fixtures.CodeCorpus
import graft.index._

/** Term statistics come from the blocks a search task holds: for every term
  * of the dictionary, the sums of [[DocRange.termStats]] over the resident
  * layout's ranges equal the index's `termstats` rows, at 1, 2 and 8 ranges
  * (blocks straddling range edges counted once), on one segment, on several
  * appended segments with tombstones, after a merge, and on a shard of
  * `IndexStore.split` (whose sums are the parent's statistics). */
class LayoutTermStatsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val cfg = IndexConfig(numPartitions = 2)
  private lazy val files = CodeCorpus.files(420)

  private lazy val single = IndexBuilder.build(spark.createDataset(files), cfg)

  /** Three appended segments, every 7th docId tombstoned. */
  private lazy val multiDir: String = {
    val d = IndexBuilder.scratchDir("graft-layout-stats-")
    Seq(files.take(150), files.slice(150, 300), files.drop(300))
      .foreach(part => IndexStore.buildAndCommit(spark.createDataset(part), d, cfg))
    IndexStore.deleteDocs(spark, d, spark.range(0, 420, 7).as[Long])
    d
  }
  private lazy val multi = IndexStore.open(spark, multiDir)

  private lazy val merged = {
    val d = IndexBuilder.scratchDir("graft-layout-stats-merged-")
    IndexStore.replicate(multiDir, d)
    SegmentMerger.mergeAll(spark, d, cfg)
    IndexStore.open(spark, d)
  }

  private def rows(idx: GraftIndex): Map[String, (Long, Long)] =
    idx.termStats.collect().map(r => r.term -> (r.docFreq, r.totalTermFreq)).toMap

  /** `idx`'s layout at `p` ranges sums to `expected` for every term. */
  private def check(idx: GraftIndex, expected: Map[String, (Long, Long)], p: Int): Unit = {
    val ranges = idx.docRangeLayout(p).ranges.collect()
    assert(ranges.length == p)
    assert(ranges.flatMap(_.blocks.keys).toSet == expected.keySet)
    val got = DocRange.termStats(ranges, expected.keySet)
    val diff = expected.filter { case (t, s) => !got.get(t).contains(s) }
    assert(diff.isEmpty, s"${diff.size} terms differ at $p ranges, e.g. " +
      diff.take(3).map { case (t, s) => s"$t: $s vs ${got.get(t)}" }.mkString(", "))
    assert(DocRange.termStats(ranges, Set("totallyabsenttoken")).isEmpty)
  }

  test("fixtures: three segments with tombstones, then one merged segment") {
    assert(IndexStore.readManifest(multiDir).get.segments.size == 3 && multi.hasDeletes)
    assert(merged.fieldStats.docCount < multi.fieldStats.docCount)
  }

  for (p <- Seq(1, 2, 8)) {
    test(s"single segment at $p ranges: the layout's sums are termstats") {
      check(single, rows(single), p)
    }
    test(s"three segments with tombstones at $p ranges: the sums count deleted docs") {
      check(multi, rows(multi), p)
    }
    test(s"merged at $p ranges: the sums drop the purged docs") {
      check(merged, rows(merged), p)
    }
    test(s"a split shard at $p ranges: the sums are the parent's termstats") {
      val ids = multi.docs.map(_.docId)
      val shard = IndexStore.split(multi, Seq(ids.filter(_ % 2 == 0), ids.filter(_ % 2 == 1))).head
      check(shard, rows(multi), p)
    }
  }
}
