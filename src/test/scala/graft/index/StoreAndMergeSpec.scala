package graft.index

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.fixtures.CodeCorpus
import graft.search.GraftSearcher
import java.nio.file.Files

class StoreAndMergeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpDir(): String =
    Files.createTempDirectory("graft-index").toString

  test("build, commit, reopen: identical search results") {
    val files = CodeCorpus.files(300)
    val dir = tmpDir()
    val m = IndexStore.buildAndCommit(spark.createDataset(files), dir, IndexConfig(numPartitions = 4))
    assert(m.generation == 0 && m.segments.size == 1)
    assert(m.docCount == 300)
    val reopened = IndexStore.open(spark, dir)
    val live = IndexBuilder.build(spark.createDataset(files), IndexConfig(numPartitions = 4))
    val q = "if AND indexwriter"
    val a = new GraftSearcher(reopened).search(q, 10)
    val b = new GraftSearcher(live).search(q, 10)
    assert(a.toSeq == b.toSeq)
  }

  test("incremental segments + merge == single-shot build (merge identity)") {
    val all = CodeCorpus.files(400)
    // split in global (repo,path,commit) sort order so docBase offsets align
    // with single-shot assignment
    val sortedAll = all.sortBy(f => (f.repo, f.path, f.commit))
    val (first, second) = sortedAll.splitAt(200)
    val dir = tmpDir()
    val m1 = IndexStore.buildAndCommit(spark.createDataset(first), dir, IndexConfig(numPartitions = 3))
    val m2 = IndexStore.buildAndCommit(spark.createDataset(second), dir, IndexConfig(numPartitions = 3))
    assert(m2.segments.size == 2)
    assert(m2.docCount == 400)
    val merged = SegmentMerger.mergeAll(spark, dir, IndexConfig(numPartitions = 3))
    assert(merged.segments.size == 1)

    val mergedIdx = IndexStore.open(spark, dir)
    val single = IndexBuilder.build(spark.createDataset(all), IndexConfig(numPartitions = 4))

    // identical stats
    assert(mergedIdx.fieldStats == single.fieldStats)
    val tsA = mergedIdx.termStats.collect().map(t => (t.term, t.docFreq, t.totalTermFreq)).toSet
    val tsB = single.termStats.collect().map(t => (t.term, t.docFreq, t.totalTermFreq)).toSet
    assert(tsA == tsB)
    // identical postings
    val pA = SegmentMerger.decodeToPostings(mergedIdx.blocks, mergedIdx.docs).collect()
      .map(p => (p.term, p.docId, p.tf, p.positions.toSeq, p.norm)).toSet
    val pB = SegmentMerger.decodeToPostings(single.blocks, single.docs).collect()
      .map(p => (p.term, p.docId, p.tf, p.positions.toSeq, p.norm)).toSet
    assert(pA == pB)
    // identical search
    for (q <- Seq("if AND return", "indexwriter OR mergepolicy", "\"foo.bar x2y\"")) {
      assert(new GraftSearcher(mergedIdx).search(q, 10).toSeq ==
        new GraftSearcher(single).search(q, 10).toSeq, s"query $q")
    }
  }

  test("multi-segment search (pre-merge) equals single-shot too") {
    val all = CodeCorpus.files(300)
    val sortedAll = all.sortBy(f => (f.repo, f.path, f.commit))
    val dir = tmpDir()
    sortedAll.grouped(100).foreach { batch =>
      IndexStore.buildAndCommit(spark.createDataset(batch), dir, IndexConfig(numPartitions = 2))
    }
    val multi = IndexStore.open(spark, dir)
    val single = IndexBuilder.build(spark.createDataset(all), IndexConfig(numPartitions = 4))
    for (q <- Seq("if", "indexwriter AND return", "parsequery OR mergepolicy")) {
      assert(new GraftSearcher(multi).search(q, 10).toSeq ==
        new GraftSearcher(single).search(q, 10).toSeq, s"query $q")
    }
  }

  test("resumability: a second buildSegment call skips completed stages") {
    val files = CodeCorpus.files(100)
    val dir = tmpDir()
    val ds = spark.createDataset(files)
    IndexStore.buildAndCommit(ds, dir, IndexConfig(numPartitions = 2))
    val postingsDir = new java.io.File(s"$dir/seg-00000/postings")
    val before = postingsDir.listFiles().map(f => f.getName -> f.lastModified()).toMap
    // re-run the same segment build: all stages must be skipped (no rewrite)
    IndexStore.buildSegment(ds, dir, "seg-00000", IndexConfig(numPartitions = 2), 0L)
    val after = postingsDir.listFiles().map(f => f.getName -> f.lastModified()).toMap
    assert(after == before)
  }

  test("resume adds missing term vectors without touching the other stages") {
    val files = CodeCorpus.files(120)
    val dir = tmpDir()
    IndexStore.buildAndCommit(spark.createDataset(files), dir, IndexConfig(numPartitions = 4))
    def stamps(stage: String) = new java.io.File(s"$dir/seg-00000/$stage").listFiles()
      .map(f => f.getName -> f.lastModified()).toMap
    val stages = Seq("docmeta", "postings", "termstats")
    val before = stages.map(stamps)
    IndexStore.buildSegment(spark.createDataset(files), dir, "seg-00000",
      IndexConfig(numPartitions = 4, storeTermVectors = true), 0L)
    assert(stages.map(stamps) == before)
    val idx = IndexStore.open(spark, dir)
    assert(idx.termVectors != null)
    val stored = idx.termVectors.collect().map(tv => (tv.docId, tv.term, tv.tf)).toSet
    val an = IndexConfig().analyzer
    val expected = idx.docs.collect().flatMap { d =>
      val f = files.find(f => f.repo == d.repo && f.path == d.path && f.commit == d.commit).get
      an.invert(f.content)._1.map { case (t, (tf, _)) => (d.docId, t, tf) }
    }.toSet
    assert(stored == expected)
  }
}
