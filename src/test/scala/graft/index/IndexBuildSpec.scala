package graft.index

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.fixtures.CodeCorpus
import graft.analysis.Analyzers

class IndexBuildSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val tiny = CodeCorpus.files(64)
  private lazy val tinyIndex = IndexBuilder.build(spark.createDataset(tiny), IndexConfig(numPartitions = 4))

  test("docIds are contiguous, deterministic, sorted by (repo,path,commit)") {
    val docs = tinyIndex.docs.collect().sortBy(_.docId)
    assert(docs.length == 64)
    assert(docs.map(_.docId).toSeq == (0L until 64L))
    val keys = docs.map(d => (d.repo, d.path, d.commit)).toSeq
    assert(keys == keys.sorted)
    // independent of partition count
    val alt = IndexBuilder.assignDocIds(spark.createDataset(tiny), numPartitions = 7)
      .collect().map { case (f, id) => (f.repo, f.path, f.commit) -> id }.toMap
    docs.foreach(d => assert(alt((d.repo, d.path, d.commit)) == d.docId))
  }

  test("build records its scratch dir and the cleanup deletes it") {
    val before = IndexBuilder.stagedDirs.toSet
    IndexBuilder.build(spark.createDataset(tiny.take(8)), IndexConfig(numPartitions = 2))
    val dirs = IndexBuilder.stagedDirs.filterNot(before)
    assert(dirs.size == 1, s"expected one new staged dir, got $dirs")
    val dir = java.nio.file.Paths.get(dirs.head)
    assert(dir.toFile.list().nonEmpty)
    IndexBuilder.deleteStaged(dirs)
    assert(!java.nio.file.Files.exists(dir))
    assert(!IndexBuilder.stagedDirs.contains(dirs.head))
  }

  test("scratchDir records the dir it makes and the cleanup deletes it") {
    val d = IndexBuilder.scratchDir("graft-scratch-probe-")
    val dir = java.nio.file.Paths.get(d)
    assert(java.nio.file.Files.isDirectory(dir))
    assert(dir.getFileName.toString.startsWith("graft-scratch-probe-"))
    assert(IndexBuilder.stagedDirs.contains(d))
    java.nio.file.Files.write(dir.resolve("part-0"), Array[Byte](1, 2, 3))
    IndexBuilder.deleteStaged(Seq(d))
    assert(!java.nio.file.Files.exists(dir))
    assert(!IndexBuilder.stagedDirs.contains(d))
  }

  test("a malformed docId broadcast cap fails naming the key and the value") {
    // a session of its own: the conf change cannot leak into other tests
    val s2 = spark.newSession()
    s2.conf.set(IndexBuilder.DOCID_BROADCAST_MAX_ROWS_KEY, "2M")
    val e = intercept[IllegalArgumentException](
      IndexBuilder.assignDocIds(s2.createDataset(tiny)))
    assert(e.getMessage.contains("spark.graft.docid.broadcastMaxRows"), e.getMessage)
    assert(e.getMessage.contains("'2M'"), e.getMessage)
    s2.conf.set(IndexBuilder.DOCID_BROADCAST_MAX_ROWS_KEY, " 5 ")
    assert(IndexBuilder.docIdBroadcastMaxRows(s2) == 5L)
  }

  test("field stats match a local recount through the same analyzer") {
    val localLens = tiny.map(f => Analyzers.standard.invert(f.content)._2.toLong)
    assert(tinyIndex.fieldStats.docCount == 64)
    assert(tinyIndex.fieldStats.sumTotalTermFreq == localLens.sum)
    assert(tinyIndex.fieldStats.maxDocId == 63)
  }

  test("term stats match a local inverted recount (df + ttf)") {
    val local = collection.mutable.Map.empty[String, (Long, Long)]
    tiny.foreach { f =>
      val (byTerm, _) = Analyzers.standard.invert(f.content)
      byTerm.foreach { case (t, (tf, _)) =>
        val (df, ttf) = local.getOrElse(t, (0L, 0L))
        local(t) = (df + 1, ttf + tf)
      }
    }
    val fromIndex = tinyIndex.termStats.collect().map(t => t.term -> (t.docFreq, t.totalTermFreq)).toMap
    assert(fromIndex.size == local.size)
    local.foreach { case (t, v) => assert(fromIndex(t) == v, s"term $t") }
  }

  test("decoded postings reproduce the exact (docId, tf, positions, norm) sets") {
    // pick one skewed and one rare term
    val docs = tinyIndex.docs.collect().sortBy(_.docId)
    val byKey = docs.map(d => (d.repo, d.path, d.commit) -> d).toMap
    val expected = collection.mutable.Map.empty[String, List[(Long, Int, Seq[Int], Int)]]
    tiny.foreach { f =>
      val d = byKey((f.repo, f.path, f.commit))
      val (byTerm, _) = Analyzers.standard.invert(f.content)
      byTerm.foreach { case (t, (tf, pos)) =>
        expected(t) = (d.docId, tf, pos.toSeq, d.norm) :: expected.getOrElse(t, Nil)
      }
    }
    val decoded = SegmentMerger.decodeToPostings(tinyIndex.blocks, tinyIndex.docs).collect()
      .groupBy(_.term)
    for (term <- Seq("if", "indexwriter", "foo.bar", "中")) {
      val exp = expected(term).map(x => (x._1, x._2, x._3, x._4)).sortBy(_._1)
      val got = decoded(term).map(p => (p.docId, p.tf, p.positions.toSeq, p.norm)).toSeq.sortBy(_._1)
      assert(got == exp, s"term $term")
    }
    // every posting everywhere roundtrips
    val gotAll = decoded.view.mapValues(_.map(p => (p.docId, p.tf, p.positions.toSeq, p.norm)).toSet).toMap
    val expAll = expected.view.mapValues(_.map(x => (x._1, x._2, x._3, x._4)).toSet).toMap
    assert(gotAll.size == expAll.size)
    expAll.foreach { case (t, s) => assert(gotAll(t) == s, s"term $t") }
  }

  test("block invariants: sorted, non-overlapping, <=128 docs, impacts dominate") {
    val blocks = tinyIndex.blocks.collect()
    blocks.groupBy(_.term).foreach { case (t, bs) =>
      val sorted = bs.sortBy(_.firstDocId)
      sorted.foreach { b => assert(b.count <= 128 && b.firstDocId <= b.lastDocId) }
      sorted.sliding(2).foreach {
        case Array(a, b2) => assert(a.lastDocId < b2.firstDocId, s"overlap in $t")
        case _ =>
      }
    }
  }

  test("index build is deterministic across partition counts") {
    val i2 = IndexBuilder.build(spark.createDataset(tiny), IndexConfig(numPartitions = 2))
    val a = tinyIndex.blocks.collect().map(b => (b.term, b.firstDocId, b.count, b.docsEnc.toSeq, b.freqsEnc.toSeq)).toSet
    val b2 = i2.blocks.collect().map(b => (b.term, b.firstDocId, b.count, b.docsEnc.toSeq, b.freqsEnc.toSeq)).toSet
    assert(a == b2)
  }

  test("sha256 verification rejects corrupted content") {
    val bad = tiny.head.copy(sha256 = "deadbeef" * 8)
    val ds = spark.createDataset(Seq(bad))
    val ex = intercept[org.apache.spark.SparkException] {
      IndexBuilder.build(ds, IndexConfig(numPartitions = 1))
    }
    assert(ex.getMessage.contains("sha256 mismatch") ||
      Option(ex.getCause).exists(_.getMessage.contains("sha256 mismatch")))
  }

  test("salting spreads a skewed term into disjoint docId-range buckets") {
    val files = CodeCorpus.files(600)
    val idx = IndexBuilder.build(spark.createDataset(files), IndexConfig(numPartitions = 4, saltSpan = 64))
    val ifBlocks = idx.blocks.filter($"term" === "if").collect().sortBy(_.firstDocId)
    assert(ifBlocks.length > 1)
    ifBlocks.sliding(2).foreach {
      case Array(a, b) => assert(a.lastDocId < b.firstDocId)
      case _ =>
    }
    // same decoded postings as unsalted build
    val idx2 = IndexBuilder.build(spark.createDataset(files), IndexConfig(numPartitions = 4, saltSpan = 1L << 20))
    def decode(ix: GraftIndex) = SegmentMerger.decodeToPostings(ix.blocks, ix.docs)
      .filter(_.term == "if").collect().map(p => (p.docId, p.tf)).toSet
    assert(decode(idx) == decode(idx2))
  }
}
