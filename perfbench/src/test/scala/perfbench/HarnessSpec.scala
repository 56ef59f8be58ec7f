package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own logic: tail selection, span self time, and the
  * seeded input generator. None of it needs Spark. */
class HarnessSpec extends AnyFunSuite {

  test("tail percentile keeps at least 10 samples beyond it") {
    assert(Stats.tail((1 to 15).map(_.toDouble)).isEmpty)
    // 20 samples: only the median has 10 beyond it
    assert(Stats.tail((1 to 20).map(_.toDouble)) == Some((50.0, 10.0)))
    // 100 samples: p90 leaves exactly 10 beyond, p95 only 5
    assert(Stats.tail((1 to 100).map(_.toDouble)) == Some((90.0, 90.0)))
    // 1000 samples: p99 leaves exactly 10 beyond
    assert(Stats.tail((1 to 1000).map(_.toDouble)) == Some((99.0, 990.0)))
    assert(Stats.tail((1 to 999).map(_.toDouble)).map(_._1) == Some(95.0))
    for (n <- Seq(20, 37, 64, 150, 2500); (p, _) <- Stats.tail((1 to n).map(_.toDouble)))
      assert(Stats.beyond(n, p) >= 10, s"n=$n p=$p")
  }

  test("median and nearest-rank percentile") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.percentile((1 to 10).map(_.toDouble), 95) == 10.0)
    assert(Stats.percentile((1 to 10).map(_.toDouble), 50) == 5.0)
  }

  test("span self time subtracts the union of children, clipped to the span") {
    assert(Trace.selfTime(0, 100, Nil) == 100)
    assert(Trace.selfTime(0, 100, Seq((10L, 30L), (50L, 60L))) == 70)
    // overlapping children count once
    assert(Trace.selfTime(0, 100, Seq((10L, 40L), (20L, 50L), (45L, 60L))) == 50)
    // a child sticking out of the parent is clipped; a disjoint one ignored
    assert(Trace.selfTime(0, 100, Seq((-20L, 10L), (90L, 130L), (200L, 300L))) == 80)
    // a child covering the whole span leaves no self time
    assert(Trace.selfTime(0, 100, Seq((-1L, 101L))) == 0)
    // nested children inside one another
    assert(Trace.selfTime(0, 100, Seq((10L, 90L), (20L, 30L))) == 20)
  }

  test("same seed gives the same corpus offset, query stream and batches") {
    assert(Gen.docOffset(7) == Gen.docOffset(7))
    val off = Gen.docOffset(7)
    assert(Gen.queries(7, 200, off, 30000) == Gen.queries(7, 200, off, 30000))
    assert(Gen.rounds(7, 6, off, 20000, 2000, 400) == Gen.rounds(7, 6, off, 20000, 2000, 400))
  }

  test("a different seed gives a different offset and stream") {
    assert(Gen.docOffset(7) != Gen.docOffset(8))
    val a = Gen.queries(7, 200, Gen.docOffset(7), 30000)
    val b = Gen.queries(8, 200, Gen.docOffset(8), 30000)
    assert(a != b)
    assert(Gen.rounds(7, 6, 0, 20000, 2000, 400) != Gen.rounds(8, 6, 0, 20000, 2000, 400))
  }

  test("every block of the query stream holds each shape once") {
    val qs = Gen.queries(3, 80, Gen.docOffset(3), 30000)
    qs.grouped(Gen.shapes.size).foreach(b => assert(b.map(_.shape).sorted == Gen.shapes.sorted))
  }

  test("rare queries name uniq_tok terms of the indexed docs") {
    val off = Gen.docOffset(5)
    val n = 30000
    val rare = Gen.queries(5, 160, off, n).filter(_.shape == "rare").map(_.text).toSet
    assert(rare.nonEmpty)
    rare.foreach { t =>
      val doc = t.split('_')(2).toLong
      assert(doc >= off && doc < off + n, t)
      assert(Gen.rareTerms(doc).contains(t), t)
    }
  }

  test("update rounds append consecutive batches and delete live, distinct docIds") {
    val rs = Gen.rounds(9, 6, 1000000L, 20000, 2000, 400)
    rs.zipWithIndex.foreach { case (r, k) =>
      assert(r.appendFrom == 1000000L + 20000 + 2000L * k)
      assert(r.deleteIds.size == 400)
      assert(r.deleteIds.forall(id => id >= 0 && id < 20000 + 2000L * (k + 1)))
    }
    val all = rs.flatMap(_.deleteIds)
    assert(all.distinct.size == all.size)
  }

  test("the metric table comes from BENCHMARK.json, each name once") {
    val c = Contract.load(java.nio.file.Paths.get("..", "BENCHMARK.json"))
    assert(c.endToEnd.contains("setup_s" -> "s"))
    assert(c.endToEnd.contains("search_p50_ms" -> "ms"))
    assert(c.perLayer.contains("index.refresh_ms" -> "ms"))
    val all = (c.endToEnd ++ c.perLayer).map(_._1)
    assert(all.distinct == all)
  }

  test("build-stage layer attribution reads the write target, not line numbers") {
    val docmeta = "(20) Execute InsertIntoHadoopFsRelationCommand\nInput [8]: [a]\n" +
      "Arguments: file:/x/index/seg-00003/docmeta, false, Parquet, [compression=zstd], Overwrite, [docId]"
    assert(Layers.writeTarget(docmeta) == "docmeta")
    val st = new StageAgg(1, 1)
    assert(Layers.buildLayer(docmeta, st) == "analysis")
    val postings = docmeta.replace("docmeta", "postings")
    assert(Layers.buildLayer(postings, st) == "codec")
    st.shWriteBytes = 10
    assert(Layers.buildLayer(postings, st) == "index.shuffle")
    assert(Layers.buildLayer("HashAggregate (4)\nLocation: InMemoryFileIndex [file:/x/corpus]", st) == "index.stats")
    assert(Layers.buildLayer("Sort (3)\nLocation: InMemoryFileIndex [file:/x/corpus]", st) == "analysis")
    assert(Layers.buildLayer("", st) == "other")
  }
}
