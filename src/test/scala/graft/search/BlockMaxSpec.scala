package graft.search

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.index._

/** Mixed-shape block-max execution + the per-task top-k floor:
  *  - phrase-AND-term / must+should / NOT-carrying queries run the
  *    generalized block-max conjunction ([[TopK.conjunctionTopK]]) and the
  *    exclusion-aware WAND disjunction, rank-identical to the exhaustive
  *    oracle, with the skip counters proving ranges were jumped on impact
  *    metadata alone.
  *  - [[TopKFloor]] hands the k-th-best score from doc range to doc range
  *    inside one search task (the `MaxScoreAccumulator` analog); a raised
  *    floor makes weak ranges skip whole block ranges without changing the
  *    global top-k, and every run of a search starts from an empty floor.
  */
class BlockMaxSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // a corpus engineered for skewed impact frontiers: 2500 docs, a few hot
  // terms everywhere at tf 1 plus a small slice of docs where they repeat
  // heavily (the competitive blocks), so most blocks are non-competitive
  // once the heap floor rises
  private lazy val index = {
    val rnd = new scala.util.Random(1234)
    val filler = Array("alpha", "beta", "gamma", "delta")
    val files = (0 until 2500).map { i =>
      val sb = new StringBuilder
      val hotReps = if (i % 97 == 0) 12 else 1 // every ~97th doc is heavy
      for (_ <- 0 until hotReps) sb.append("merge policy ")
      if (i % 3 == 0) sb.append("writer ")
      for (_ <- 0 until 4 + rnd.nextInt(20)) {
        sb.append(filler(rnd.nextInt(filler.length))).append(' ')
      }
      CodeFile("r", f"f$i%05d", "c0", "txt", sb.toString)
    }
    IndexBuilder.build(spark.createDataset(files), IndexConfig(numPartitions = 6))
  }
  private lazy val searcher = new GraftSearcher(index)

  private def skipDelta(body: => Unit): Long = {
    val before = searcher.counters.skipped.value: Long
    body
    (searcher.counters.skipped.value: Long) - before
  }

  test("mixed conjunction shapes are rank-identical AND skip block ranges") {
    val queries = Seq(
      "\"merge policy\" AND writer", // phrase-in-AND (mixed children)
      "merge AND writer",            // plain term conjunction
      "merge AND (policy OR writer)",// nested bool child
      "\"merge policy\"",            // bare phrase root (inner-conj pruning)
      "merge AND writer OR policy")  // must+should (ReqOpt bounds)
    var skipped = 0L
    for (q <- queries; k <- Seq(1, 5)) {
      val ast = searcher.parse(q)
      skipped += skipDelta {
        assert(searcher.search(ast, k).toSeq == searcher.bruteForce(ast, k).toSeq,
          s"$q k=$k diverged from the exhaustive oracle")
      }
    }
    assert(skipped > 0, "no block range was ever skipped — block-max is not engaging")
  }

  test("NOT-carrying disjunction prunes through the exclusion") {
    val ast = searcher.parse("merge OR policy NOT writer")
    val d = skipDelta {
      assert(searcher.search(ast, 5).toSeq == searcher.bruteForce(ast, 5).toSeq)
    }
    assert(d > 0, "exclusion-aware WAND produced no skips")
  }

  test("must+should+minShouldMatch matches Lucene's required-msm semantics") {
    // msm binds the SHOULD clauses even when MUST clauses exist
    val q = BoolQ(
      must = Seq(TermQ("merge")),
      should = Seq(TermQ("writer"), TermQ("policy"), TermQ("alpha")),
      minShouldMatch = 2)
    val got = searcher.matchesDS(q).collect().toSet
    val expect = {
      val m = searcher.matchesDS(TermQ("merge")).collect().toSet
      val s = Seq("writer", "policy", "alpha")
        .map(t => searcher.matchesDS(TermQ(t)).collect().toSet)
      m.filter(d => s.count(_.contains(d)) >= 2)
    }
    assert(got == expect)
    assert(searcher.search(q, 10).toSeq == searcher.bruteForce(q, 10).toSeq)
  }

  test("a published floor makes weak partitions skip; results unchanged") {
    // manual single-term collector driven with a pre-published global floor:
    // floor above every score -> everything pruned locally (those docs could
    // never enter the global top-k); tiny floor -> identical results
    val t = "writer"
    val (_, ctx) = searcher.plan(TermQ(t))
    val blocks = index.blocks.filter($"term" === t).as[BlockRow]
      .collect().sortBy(_.firstDocId)
    // docFreq as termstats derives it: the sum of the term's block counts
    val df = blocks.map(_.count.toLong).sum
    val maxDoc = index.fieldStats.maxDocId + 1
    val all = DocRange(0L, maxDoc, Map(t -> blocks), null,
      DocRange.normsOf(0L, maxDoc, index.docs.collect().iterator.map(d => (d.docId, d.norm))))
    def run(floor: TopKFloor): Array[ScoreDoc] = {
      val it = new TermIterator(blocks,
        Bm25.scorer(1f, Bm25.DEFAULT_K1, Bm25.DEFAULT_B, df, ctx.stats), all)
      TopK.singleTerm(it, 10, null, null, floor)
    }
    def floorAt(score: Float): TopKFloor = {
      val f = new TopKFloor
      f.raise(score)
      f
    }
    // the floor only rises, ignores non-positive scores, and compares
    // strictly: bound <= strictBound iff bound < floor
    val f = floorAt(2.5f)
    f.raise(1.0f)
    f.raise(0f)
    assert(new TopKFloor().strictBound == Double.NegativeInfinity)
    assert(2.5f.toDouble > f.strictBound)
    assert(Math.nextDown(2.5f).toDouble <= f.strictBound)
    val base = run(null)
    assert(base.nonEmpty)
    assert(run(new TopKFloor).toSeq == base.toSeq)
    // floor below every real score
    assert(run(floorAt(Math.nextUp(0f))).toSeq == base.toSeq)
    // floor above every score
    assert(run(floorAt(base.head.score * 4f)).isEmpty,
      "a floor above all scores must prune the whole partition")
  }

  test("a searchDS Dataset collected twice returns the same rows and the same decoded/skipped deltas") {
    // each range starts from the floor the ranges before it left in the
    // same run, never from one a previous collect left
    for (q <- Seq("alpha", "policy AND alpha", "merge")) {
      val ds = searcher.searchDS(searcher.parse(q), 5, null, 6)
      def collect(): (Seq[ScoreDoc], Long, Long) = {
        val (d0, s0) = (searcher.counters.decoded.value: Long, searcher.counters.skipped.value: Long)
        val rows = ds.collect().toSeq.sorted(GraftSearcher.bestFirst)
        (rows, (searcher.counters.decoded.value: Long) - d0,
          (searcher.counters.skipped.value: Long) - s0)
      }
      val first = collect()
      assert(collect() == first, s"$q: the second collect diverged")
    }
  }
}
